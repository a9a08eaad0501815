"""Checkpoint / resume semantics (SURVEY.md §5.2 'resume')."""

import json
import os

import pytest

from lsh_project_spark.checkpoint import (
    MANIFEST,
    CheckpointedPipeline,
    checkpointed_dedup,
    stage_key,
)
from lsh_project_spark.config import PipelineConfig
from lsh_project_spark.sources.fixtures import images_table


def test_stage_key_sensitivity():
    k0 = stage_key("a", "cfg1", [])
    assert k0 == stage_key("a", "cfg1", [])
    assert k0 != stage_key("a", "cfg2", [])
    assert k0 != stage_key("b", "cfg1", [])
    assert stage_key("a", "cfg1", ["x"]) != stage_key("a", "cfg1", ["y"])


def test_stage_skip_and_invalidation(spark, tmp_path):
    calls = []

    def build(tag, df):
        def _b():
            calls.append(tag)
            return df

        return _b

    df = spark.range(10).withColumnRenamed("id", "v")
    root = str(tmp_path / "ckpt")

    cp = CheckpointedPipeline(spark, root, "cfgA")
    out1 = cp.stage("s1", [], build("s1", df))
    assert out1.count() == 10 and calls == ["s1"]

    # same config -> skipped
    cp2 = CheckpointedPipeline(spark, root, "cfgA")
    out2 = cp2.stage("s1", [], build("s1-again", df))
    assert out2.count() == 10 and calls == ["s1"]

    # config change -> rebuilt
    cp3 = CheckpointedPipeline(spark, root, "cfgB")
    cp3.stage("s1", [], build("s1-rebuilt", df))
    assert calls == ["s1", "s1-rebuilt"]


def test_manifest_contents(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    cp = CheckpointedPipeline(spark, root, "cfgZ")
    cp.stage("stage_x", [], lambda: spark.range(100).withColumnRenamed("id", "v"))
    with open(os.path.join(root, "stage_x", MANIFEST)) as f:
        m = json.load(f)
    assert m["rows"] == 100
    assert m["config_hash"] == "cfgZ"
    assert sum(m["per_partition"].values()) == 100
    assert m["partitions"] >= 1


def test_checkpointed_dedup_resume_identical(spark, tmp_path):
    """Full pipeline: run, then rerun from checkpoints — identical output,
    no stage rebuilt (verified via manifest timestamps)."""
    images = images_table(spark, num_clusters=20, seed=11).cache()
    images.count()
    root = str(tmp_path / "pipeline_ckpt")
    cfg = PipelineConfig()

    out1 = checkpointed_dedup(spark, images, root, cfg)
    rows1 = sorted((r["image_id"], r["cluster_id"]) for r in out1.collect())

    stamps1 = {}
    for stage in ("profile", "candidates", "verified_pairs", "assignments"):
        with open(os.path.join(root, stage, MANIFEST)) as f:
            stamps1[stage] = json.load(f)["written_at"]

    out2 = checkpointed_dedup(spark, images, root, cfg)
    rows2 = sorted((r["image_id"], r["cluster_id"]) for r in out2.collect())
    assert rows1 == rows2

    for stage, stamp in stamps1.items():
        with open(os.path.join(root, stage, MANIFEST)) as f:
            assert json.load(f)["written_at"] == stamp, f"{stage} was rebuilt"

    # matches the non-checkpointed pipeline
    from lsh_project_spark.pipeline import dedup_pipeline

    direct = dedup_pipeline(images, cfg).assignments
    rows3 = sorted((r["image_id"], r["cluster_id"]) for r in direct.collect())
    assert rows1 == rows3


def test_checkpointed_dedup_long_ids_match_pipeline(spark, tmp_path):
    """Long ids ride the chain unhashed: the checkpointed run equals
    dedup_pipeline on the same input, a rerun rebuilds no stage, and a
    root first written for the string ids of the same rows is rebuilt, not
    resumed (its stages hold hashed ids)."""
    import pyspark.sql.functions as F

    from lsh_project_spark.pipeline import dedup_pipeline

    strings = images_table(spark, num_clusters=20, seed=11).select(
        "image_id", "caption", "phash"
    )
    images = strings.select(
        F.regexp_replace("image_id", "[^0-9]", "").cast("long").alias("image_id"),
        "caption",
        "phash",
    ).cache()
    ids = {r["image_id"] for r in images.collect()}
    assert len(ids) == images.count()
    root = str(tmp_path / "pipeline_ckpt")
    cfg = PipelineConfig()

    checkpointed_dedup(spark, strings, root, cfg).count()
    out1 = checkpointed_dedup(spark, images, root, cfg)
    rows1 = sorted((r["image_id"], r["cluster_id"]) for r in out1.collect())
    assert {a for a, _ in rows1} == ids

    def manifests():
        return {
            stage: json.load(open(os.path.join(root, stage, MANIFEST)))
            for stage in os.listdir(root)
            if os.path.exists(os.path.join(root, stage, MANIFEST))
        }

    stamps1 = {s: m["written_at"] for s, m in manifests().items()}
    assert {"profile", "candidates", "verified_pairs", "assignments"} <= set(stamps1)

    out2 = checkpointed_dedup(spark, images, root, cfg)
    rows2 = sorted((r["image_id"], r["cluster_id"]) for r in out2.collect())
    assert rows2 == rows1
    for stage, m in manifests().items():
        assert m["written_at"] == stamps1[stage], f"{stage} was rebuilt"

    direct = dedup_pipeline(images, cfg).assignments
    assert sorted((r["image_id"], r["cluster_id"]) for r in direct.collect()) == rows1


def test_candidates_manifest_records_hot_drop_budget(spark, tmp_path):
    """A planted hot bucket's exact drop accounting (C(n,2) - (n-1) pairs
    per hot bucket) must ride in the candidates stage manifest, matching
    candidate_pairs' own drop_stats on the same input."""
    import pyspark.sql.functions as F

    from lsh_project_spark.operators.candidates import candidate_pairs
    from lsh_project_spark.operators.profile import (
        multimodal_profile,
        profile_signatures,
    )

    # 60 images sharing ONE caption (every MinHash/SimHash band bucket is
    # a 60-member mega-bucket at threshold 20) + distinct-caption controls
    cap = "planted hot bucket caption shared by every row in this test"
    rows = [(f"h{i:03d}", cap, i * 7919) for i in range(60)]
    rows += [(f"c{i:03d}", f"control caption number {i} entirely its own", i)
             for i in range(10)]
    images = spark.createDataFrame(
        rows, "image_id string, caption string, phash long"
    )
    cfg = PipelineConfig(hot_bucket_threshold=20, substring_enabled=False)

    root = str(tmp_path / "ckpt")
    checkpointed_dedup(spark, images, root, cfg)
    with open(os.path.join(root, "candidates", MANIFEST)) as f:
        manifest = json.load(f)
    assert manifest["hot_hot_buckets"] > 0
    assert manifest["hot_pairs_dropped"] > 0

    # independent accounting straight from the operator on the same input
    dstats = {}
    candidate_pairs(
        profile_signatures(multimodal_profile(images, cfg), cfg),
        bucket_cols=("modality", "band", "bucket"),
        hot_bucket_threshold=cfg.hot_bucket_threshold,
        drop_stats=dstats,
    ).count()
    expect = dstats["df"].collect()[0].asDict()
    assert manifest["hot_hot_buckets"] == int(expect["hot_buckets"])
    assert manifest["hot_pairs_dropped"] == int(expect["pairs_dropped"])
    assert manifest["hot_max_bucket"] == int(expect["max_bucket"])
