"""The benchmark's workloads.  Each drives the engine's public functions
from outside, closed loop: one call at a time, the next only after the
previous result is complete.

Every workload has the same life cycle:

- ``generate``: make the seeded inputs once (cached, not timed as set-up);
- ``load``: read the inputs (part of set-up; repeated, median taken);
- ``warm_up``: one untimed call, so JIT, codegen and Python workers are
  warm before timing (part of set-up);
- ``iterate``: one timed call on the full input, written to a noop sink,
  then an untimed collect of the output for the checks; returns the
  per-call latencies and an output summary;
- ``traced``: the same work split into one span per layer, with a
  persist+count barrier between layers.

Output checks: the summary's ``stable`` fields (order-insensitive digest of
the output rows and its counts) must not change within a run, ``rows``
must cover the input and ``recall`` must reach the workload's floor.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.storagelevel import StorageLevel

from lsh_project_spark.config import CrossPolytopeConfig, PipelineConfig

from . import inputs

# dedup-pair recall on the planted clusters is 1.0 at every seed tried;
# reference_nn recall is a property of k=2, L=8 and sits near 0.66
RECALL_FLOOR = {"tiled_sparse": 1.0, "reference_nn": 0.55}
# the traced tiled run streams the first STREAM_BATCHES of STREAM_PARTS
# micro-batches, one partition each as a small file-source micro-batch
# arrives: one into an empty store, the rest beside a stored one
STREAM_PARTS, STREAM_BATCHES = 16, 2


def digest(pdf: pd.DataFrame, cols: tuple[str, str]) -> str:
    """Order-insensitive digest of a two-column result."""
    lines = sorted(f"{a}\t{b}" for a, b in zip(pdf[cols[0]], pdf[cols[1]]))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def dup_pair_recall(assign: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Share of planted duplicate pairs (same true_cluster_id) that end up
    in one output cluster."""
    m = truth.merge(assign, on="image_id", how="left")

    def pairs(sizes: pd.Series) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    total = pairs(m.groupby("true_cluster_id").size())
    hit = pairs(m.groupby(["true_cluster_id", "cluster_id"]).size())
    return hit / total if total else 1.0


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _caption_kernels(texts: list[str], cfg: PipelineConfig) -> float:
    """Seconds the functions.textsig kernels take on these captions,
    single-threaded, in the profile stage's 2,048-row blocks."""
    from lsh_project_spark.functions.hashing import minhash_params
    from lsh_project_spark.functions.textsig import (
        minhash_bands_from_block,
        shingle_hash_block,
        simhash_from_block,
    )
    from lsh_project_spark.operators.signatures import SIMHASH_SALT

    mh = cfg.minhash
    a, b, c = minhash_params(mh.num_perm, mh.seed)
    t = time.perf_counter()
    for lo in range(0, len(texts), 2048):
        blk = shingle_hash_block(texts[lo:lo + 2048], mh.shingle_size)
        minhash_bands_from_block(
            blk.h62, blk.inv, blk.starts, a, b, c, mh.num_bands, mh.rows_per_band
        )
        simhash_from_block(blk.h62, blk.inv, blk.starts)
        simhash_from_block(blk.salted_h62(SIMHASH_SALT), blk.inv, blk.starts)
    return time.perf_counter() - t


def _cp_kernels(x: np.ndarray, cfg: CrossPolytopeConfig) -> float:
    """Seconds `cp_hash` + `concat_hashes` take on these unit vectors
    (the rotation matmul is done first and not timed)."""
    from lsh_project_spark.oracle.lsh_core import concat_hashes, cp_hash
    from lsh_project_spark.params import fold_rotations

    rot = fold_rotations(cfg)
    L, k, d, _ = rot.shape
    rot2d = np.ascontiguousarray(rot.transpose(3, 0, 1, 2).reshape(d, L * k * d))
    t_total = 0.0
    for lo in range(0, len(x), 20000):
        y = (x[lo:lo + 20000] @ rot2d).reshape(-1, L, k, d)
        t = time.perf_counter()
        concat_hashes(cp_hash(y), d)
        t_total += time.perf_counter() - t
    return t_total


class Workload:
    name = ""
    in_rows = 0  # input rows per call set: images or queries

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def warm_up(self, spark) -> None:
        self.iterate(spark)


class TiledSparse(Workload):
    """`pipeline.dedup_pipeline` on the 10x-tiled documents images."""

    name = "tiled_sparse"
    n_docs = 300

    def generate(self, spark) -> None:
        self.path = inputs.tiled_images(
            spark, os.path.join(self.work, "inputs"), self.seed, self.n_docs
        )

    def load(self, spark) -> None:
        df = spark.read.parquet(self.path)
        self.truth = df.select("image_id", "true_cluster_id").toPandas()
        self.images = df.select("image_id", "caption", "phash")
        self.in_rows = len(self.truth)

    def iterate(self, spark):
        from lsh_project_spark.pipeline import dedup_pipeline

        t = time.perf_counter()
        res = dedup_pipeline(self.images, PipelineConfig())
        out = res.assignments.persist()
        _noop(out)
        wall = time.perf_counter() - t
        summary = self._summary(out.toPandas(), res.verified_pairs.count())
        spark.catalog.clearCache()
        return wall, summary

    def _summary(self, assign: pd.DataFrame, n_pairs: int) -> dict:
        return {
            "stable": {
                "digest": digest(assign, ("image_id", "cluster_id")),
                "clusters": int(assign["cluster_id"].nunique()),
                "pairs": int(n_pairs),
            },
            "rows": len(assign),
            "recall": dup_pair_recall(assign, self.truth),
        }

    def traced(self, spark, tracer):
        """dedup_pipeline's stage chain, staged layer by layer."""
        from lsh_project_spark.operators.candidates import candidate_pairs
        from lsh_project_spark.operators.cluster import assign_clusters
        from lsh_project_spark.operators.profile import (
            multimodal_profile,
            profile_signatures,
            verify_pairs_from_profile,
        )
        from lsh_project_spark.operators.substring import substring_pairs
        from lsh_project_spark.pipeline import dedup_pipeline, map_back_assignments
        from lsh_project_spark.sources.codecs import phash_to_vector

        cfg = PipelineConfig()
        disk = StorageLevel.MEMORY_AND_DISK
        # jobs the pipeline starts while its plan is only being built
        with tracer.span("plan"):
            dedup_pipeline(self.images, cfg)
        spark.catalog.clearCache()

        t0 = time.time()
        slim = self.images
        if slim.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
            slim = slim.repartition(spark.sparkContext.defaultParallelism)
        idmap = slim.select(F.xxhash64("image_id").alias("hid"), "image_id")
        slim = slim.select(F.xxhash64("image_id").alias("image_id"), "caption", "phash")
        with tracer.span("profile") as sp:
            profile = multimodal_profile(slim, cfg).persist(disk)
            sp["rows_out"] = profile.count()
        with tracer.span("signatures") as sp:
            sigs = profile_signatures(profile, cfg).select(
                "image_id", F.xxhash64("modality", "band", "bucket").alias("bucket")
            ).persist()
            sp["rows_out"] = sigs.count()
        dstats: dict = {}
        with tracer.span("candidates") as sp:
            cands = candidate_pairs(
                sigs, bucket_cols=("bucket",),
                hot_bucket_threshold=cfg.hot_bucket_threshold, drop_stats=dstats,
            ).persist()
            sp["rows_out"] = cands.count()
        with tracer.span("verify") as sp:
            pairs = verify_pairs_from_profile(cands, profile, cfg).persist()
            sp["rows_out"] = pairs.count()
        with tracer.span("substring") as sp:
            sub = substring_pairs(
                slim.select("image_id", F.col("caption").alias("text")),
                cfg.substring, id_col="image_id", text_col="text",
            ).select("a", "b").persist()
            sp["rows_out"] = sub.count()
        with tracer.span("cluster") as sp:
            edges = pairs.unionByName(sub).dropDuplicates(["a", "b"]).persist(disk)
            edges_in = edges.count()
            assign_h = assign_clusters(profile, edges, id_col="image_id").persist()
            sp["rows_out"] = assign_h.count()
        with tracer.span("map_back") as sp:
            out = map_back_assignments(assign_h, idmap).persist()
            sp["rows_out"] = out.count()
        traced_wall = time.time() - t0

        hot = dstats["df"].collect()[0]
        summary = self._summary(out.toPandas(), edges_in)
        spark.catalog.clearCache()
        rows = self.images.toPandas()
        extra = {
            "cluster.edges_in": edges_in,
            "candidates.hot_buckets": int(hot["hot_buckets"]),
            "candidates.pairs_dropped": int(hot["pairs_dropped"]),
            "profile.kernel_textsig_s": _caption_kernels(rows["caption"].tolist(), cfg),
            "profile.kernel_cp_s": _cp_kernels(
                phash_to_vector(rows["phash"].to_numpy()), cfg.cp
            ),
            **self._streaming(spark, tracer),
        }
        return traced_wall, summary, extra

    def _streaming(self, spark, tracer) -> dict:
        """`IncrementalDedup.process_batch` over the first micro-batches of
        the input split by xxhash64(image_id), from a fresh state dir, one
        span per batch.  Checks that every streamed row got a cluster."""
        from lsh_project_spark.streaming.incremental import IncrementalDedup

        state = os.path.join(self.work, "state", f"s{self.seed}_{os.getpid()}")
        shutil.rmtree(state, ignore_errors=True)
        part = F.pmod(F.xxhash64("image_id"), F.lit(STREAM_PARTS))
        try:
            inc = IncrementalDedup(spark, state, PipelineConfig())
            for b in range(STREAM_BATCHES):
                with tracer.span("streaming", group=f"perfbench:streaming{b}"):
                    inc.process_batch(self.images.filter(part == b).coalesce(1), b)
            n_in = self.images.filter(part < STREAM_BATCHES).count()
            n_out = inc.assignments().count()
            if n_out != n_in:
                raise RuntimeError(f"streaming assigned {n_out} of {n_in} rows")
            sizes = [
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(state) for f in fs if f.endswith(".parquet")
            ]
        finally:
            shutil.rmtree(state, ignore_errors=True)
        return {
            "streaming.store_files": len(sizes),
            "streaming.store_mb": sum(sizes) / 2**20,
        }


class ReferenceNN(Workload):
    """The paper's workload: `operators.knn.cp_nearest_neighbor` over
    n=65,536 unit vectors (d=128, k=2, L=8) and noisy queries."""

    name = "reference_nn"
    n, q, d = 65536, 2048, 128
    cfg = CrossPolytopeConfig(dim=128, k=2, num_tables=8)

    def generate(self, spark) -> None:
        self.paths = inputs.unit_vectors(
            spark, os.path.join(self.work, "inputs"), self.seed, self.n, self.q, self.d
        )

    def load(self, spark) -> None:
        self.data = spark.read.parquet(self.paths["data"])
        self.queries = spark.read.parquet(self.paths["queries"])
        self.in_rows = self.queries.count()
        self.data.count()
        truth = spark.read.parquet(self.paths["truth"]).toPandas()
        self.truth = dict(zip(truth["qid"], truth["nn_id"]))

    def iterate(self, spark):
        from lsh_project_spark.operators.knn import cp_nearest_neighbor

        t = time.perf_counter()
        out = cp_nearest_neighbor(self.data, self.queries, self.cfg).persist()
        _noop(out)
        wall = time.perf_counter() - t
        summary = self._summary(out.toPandas())
        out.unpersist()
        return wall, summary

    def _summary(self, nn: pd.DataFrame) -> dict:
        got = dict(zip(nn["qid"], nn["nn_id"]))
        hits = sum(got.get(q) == t for q, t in self.truth.items())
        return {
            "stable": {"digest": digest(nn, ("qid", "nn_id")), "answered": len(nn)},
            # unanswered queries (no shared bucket) are legitimate misses
            "rows": self.in_rows,
            "recall": hits / len(self.truth),
        }

    def traced(self, spark, tracer):
        from lsh_project_spark.operators.knn import cp_nearest_neighbor
        from lsh_project_spark.operators.signatures import cp_signature_table

        t0 = time.time()
        with tracer.span("knn") as sp:
            out = cp_nearest_neighbor(self.data, self.queries, self.cfg).persist()
            _noop(out)
            sp["rows_out"] = out.count()
        traced_wall = time.time() - t0
        summary = self._summary(out.toPandas())
        out.unpersist()
        dsig = cp_signature_table(self.data.select("id", "features"), self.cfg, id_col="id")
        qsig = cp_signature_table(
            self.queries.select(F.col("qid").alias("id"), "features"), self.cfg,
            id_col="id",
        ).withColumnRenamed("id", "qid")
        n_cands = (
            qsig.join(dsig, ["table_idx", "bucket"]).select("qid", "id")
            .dropDuplicates().count()
        )
        x = np.vstack(self.data.select("features").toPandas()["features"]).astype(
            np.float32
        )
        extra = {
            "knn.candidates_per_query": n_cands / self.in_rows,
            "profile.kernel_cp_s": _cp_kernels(x, self.cfg),
        }
        return traced_wall, summary, extra


WORKLOADS = {w.name: w for w in (TiledSparse, ReferenceNN)}
