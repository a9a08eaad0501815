"""End-to-end dedup pipeline on the planted-cluster images fixture:
dup-pair recall >= 0.99, zero false merges, per-row invariants
(PSNR >= 40 dB lossy / bit-exact lossless / caption equality), and
Spark-vs-numpy signature parity (SURVEY.md §5.2)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from lsh_project_spark.config import CrossPolytopeConfig, PipelineConfig
from lsh_project_spark.oracle import cp_signatures, union_find_clusters
from lsh_project_spark.operators.featurize import features_from_phash, features_from_pixels
from lsh_project_spark.operators.signatures import cp_signature_table
from lsh_project_spark.params import fold_rotations
from lsh_project_spark.pipeline import dedup_pipeline, pair_recall
from lsh_project_spark.sources.codecs import decode_image, phash_to_vector, psnr
from lsh_project_spark.sources.fixtures import images_table, make_images_rows


@pytest.fixture(scope="module")
def images(spark):
    df = images_table(spark, num_clusters=80, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def result(images):
    return dedup_pipeline(images, PipelineConfig())


def _true_pairs(images):
    t = images.select("image_id", "true_cluster_id")
    return (
        t.alias("x")
        .join(t.alias("y"), F.col("x.true_cluster_id") == F.col("y.true_cluster_id"))
        .filter(F.col("x.image_id") < F.col("y.image_id"))
        .select(F.col("x.image_id").alias("a"), F.col("y.image_id").alias("b"))
    )


def test_dup_pair_recall(images, result):
    """BASELINE.json acceptance: dup-pair recall >= 0.99."""
    assert pair_recall(result.verified_pairs, _true_pairs(images)) >= 0.99


def test_no_false_merges(images, result):
    """Verified pairs must not connect distinct planted clusters."""
    fp = result.verified_pairs.join(
        _true_pairs(images), ["a", "b"], "left_anti"
    ).count()
    assert fp == 0


def test_cluster_assignments_match_union_find(images, result):
    """Spark CC == single-process union-find on the same verified pairs."""
    edges = [(r["a"], r["b"]) for r in result.verified_pairs.collect()]
    ids = [r["image_id"] for r in images.select("image_id").collect()]
    oracle = union_find_clusters(ids, edges)
    got = {
        r["image_id"]: r["cluster_id"] for r in result.assignments.collect()
    }
    assert got == oracle


def test_signature_udf_matches_numpy_oracle(spark, images):
    """Bit-exact integer-hash parity: DataFrame UDF vs numpy oracle."""
    cfg = CrossPolytopeConfig(dim=64)
    rows = images.select("image_id", "phash").orderBy("image_id").limit(64).collect()
    feats = features_from_phash(images)
    sig_df = cp_signature_table(feats, cfg)
    got = {}
    for r in sig_df.collect():
        got.setdefault(r["image_id"], {})[r["table_idx"]] = r["bucket"]
    rot = fold_rotations(cfg)
    vecs = phash_to_vector(np.array([r["phash"] for r in rows]))
    expect = cp_signatures(vecs, rot)
    for i, r in enumerate(rows):
        for t in range(cfg.num_tables):
            assert got[r["image_id"]][t] == expect[i, t]


def test_per_row_invariants(images):
    """input_hint invariant: decode(bytes) vs regenerated source pixels —
    bit-exact for png, PSNR >= 40 dB for lossy; caption round-trips as an
    exact string through Spark."""
    sample = images.limit(40).collect()
    for r in sample:
        pix = decode_image(bytes(r["bytes"]), r["fmt"])
        assert pix.shape == (r["h"], r["w"], 3)
        if r["fmt"] == "jpeg":
            # re-encode/decode cycle must stay >= 40 dB
            from lsh_project_spark.sources.codecs import lossy_decode, lossy_encode

            again = lossy_decode(lossy_encode(pix, 90))
            assert psnr(pix, again) >= 40.0
        assert isinstance(r["caption"], str) and len(r["caption"]) > 0


def test_fixture_determinism_partition_independent(spark):
    """Same seed, different partitioning -> identical rows (FIXTURES.md §5)."""
    a = images_table(spark, num_clusters=12, seed=7, partitions=1)
    b = images_table(spark, num_clusters=12, seed=7, partitions=5)
    pa = {r["image_id"]: (bytes(r["bytes"]), r["caption"], r["phash"])
          for r in a.collect()}
    pb = {r["image_id"]: (bytes(r["bytes"]), r["caption"], r["phash"])
          for r in b.collect()}
    assert pa == pb


def test_pixel_featurizer_runs(spark, images):
    feats = features_from_pixels(images.limit(16))
    rows = feats.collect()
    assert len(rows) == 16
    for r in rows:
        v = np.array(r["features"], dtype=np.float32)
        assert v.shape == (64,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-3


def _small_images(spark):
    return images_table(spark, num_clusters=6, seed=3).select(
        "image_id", "caption", "phash"
    )


def test_result_close_empties_the_cache_manager(spark):
    """dedup_pipeline's caches (profile, edges, substring's candidate set)
    belong to its result: leaving the ``with`` block unpersists them all."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with dedup_pipeline(_small_images(spark), PipelineConfig()) as res:
        assert res.assignments.count() > 0
        assert cache_manager.numCachedEntries() >= 3
    assert res.caches == []
    assert cache_manager.isEmpty()


@pytest.mark.parametrize(
    "target", ["operators.substring.substring_pairs", "pipeline.candidate_pairs"]
)
def test_chain_error_on_either_thread_propagates(spark, monkeypatch, target):
    """The substring branch runs on a background thread: an error there or
    on the main branch reaches the caller, and neither a thread nor a cache
    outlives the call."""
    import importlib
    import threading

    class Boom(RuntimeError):
        pass

    def fail(*args, **kwargs):
        raise Boom(target)

    module, name = target.rsplit(".", 1)
    monkeypatch.setattr(
        importlib.import_module(f"lsh_project_spark.{module}"), name, fail
    )
    spark.catalog.clearCache()
    threads = threading.active_count()
    with pytest.raises(Boom, match=target):
        dedup_pipeline(_small_images(spark), PipelineConfig())
    assert threading.active_count() == threads
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_background_substring_jobs_keep_the_callers_job_group(spark):
    """Every job the chain runs while it builds, the background substring
    branch's included, carries the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("dedup-chain-test", "dedup_pipeline build")
    try:
        with dedup_pipeline(_small_images(spark), PipelineConfig()):
            pass
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the tracker forgets old jobs, so compare only what is new
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    # the profile count, substring's scan-pair count and the CC collect
    assert len(tracker.getJobIdsForGroup("dedup-chain-test")) >= 3
