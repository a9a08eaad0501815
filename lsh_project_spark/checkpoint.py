"""Checkpoint / lineage / resume layer.

Every pipeline stage can be materialized to Parquet (Iceberg-style layout:
data files + a JSON manifest) keyed by a content hash of (stage name,
config hash, upstream manifest hashes).  A rerun with identical config and
inputs skips completed stages; any config or upstream change invalidates
exactly the downstream stages.  Mandated by the dedup graft ("resumable
from checkpoint with per-partition lineage + metrics").

Manifest schema (``_stage_manifest.json``):
  stage        stage name
  key          16-hex content hash (identity of this materialization)
  config_hash  PipelineConfig.config_hash()
  parents      upstream manifest keys
  rows         row count
  partitions   number of written files
  per_partition row counts  (lineage: which partition carried what)
  written_at   ISO timestamp (informational only; not part of the key)
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timezone

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_stage_manifest.json"


def stage_key(stage: str, config_hash: str, parent_keys: list[str]) -> str:
    payload = json.dumps(
        {"stage": stage, "config": config_hash, "parents": sorted(parent_keys)},
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


class CheckpointedPipeline:
    """Stage runner with skip-if-complete semantics.

    Usage:
        cp = CheckpointedPipeline(spark, root, config_hash)
        profile = cp.stage("profile", [], lambda: multimodal_profile(...))
        pairs   = cp.stage("pairs", ["profile"], lambda: ...)
    """

    def __init__(self, spark: SparkSession, root: str, config_hash: str):
        self.spark = spark
        self.root = root
        self.config_hash = config_hash
        self.keys: dict[str, str] = {}
        self.manifests: dict[str, dict] = {}
        os.makedirs(root, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def is_complete(self, stage: str, key: str) -> bool:
        mpath = os.path.join(self._path(stage), MANIFEST)
        if not os.path.exists(mpath):
            return False
        try:
            with open(mpath) as f:
                manifest = json.load(f)
        except (json.JSONDecodeError, OSError):
            return False
        return manifest.get("key") == key

    def stage(
        self, stage: str, parents: list[str], build, extra_metrics=None
    ) -> DataFrame:
        """Return the stage DataFrame, reading from the checkpoint if this
        exact (config, upstream) combination already completed.

        ``extra_metrics``: optional zero-arg callable returning a dict of
        stage-specific metrics recorded in the manifest (evaluated only
        when the stage actually builds — e.g. the candidate stage's
        hot-bucket drop accounting).

        Safe to call from two threads for different stages (the dedup
        chain builds substring_pairs on a background thread): a call
        touches only its own stage's key, manifest and directory."""
        parent_keys = [self.keys[p] for p in parents]
        key = stage_key(stage, self.config_hash, parent_keys)
        self.keys[stage] = key
        path = self._path(stage)

        if not self.is_complete(stage, key):
            df = build()
            df.write.mode("overwrite").parquet(path)
            written = self.spark.read.parquet(path)
            per_part = (
                written.groupBy(F.spark_partition_id().alias("pid"))
                .count()
                .collect()
            )
            manifest = {
                "stage": stage,
                "key": key,
                "config_hash": self.config_hash,
                "parents": parent_keys,
                "rows": int(sum(r["count"] for r in per_part)),
                "partitions": len(per_part),
                "per_partition": {str(r["pid"]): int(r["count"]) for r in per_part},
                "written_at": datetime.now(timezone.utc).isoformat(),
            }
            if extra_metrics is not None:
                manifest.update(extra_metrics())
            with open(os.path.join(path, MANIFEST), "w") as f:
                json.dump(manifest, f, indent=2, sort_keys=True)
            self.manifests[stage] = manifest
        else:
            with open(os.path.join(path, MANIFEST)) as f:
                self.manifests[stage] = json.load(f)
        return self.spark.read.parquet(path)


def checkpointed_dedup(
    spark: SparkSession, images: DataFrame, root: str, cfg=None
) -> DataFrame:
    """The flagship pipeline with per-stage checkpoints: kill it after any
    stage and rerun — completed stages are skipped, output is identical.
    Same stage chain as ``pipeline.dedup_pipeline``; the candidates
    manifest also records the hot-bucket drop totals (``hot_*``)."""
    from .config import PipelineConfig
    from .pipeline import _dedup_chain, _hashes_ids

    cfg = cfg or PipelineConfig()
    # The salt names the chain version and whether ids ride it hashed.
    # Stage keys hash name + config + parents, not content: a root written
    # for string ids holds xxhash64 ids, and a long-id rerun must not
    # resume from it and skip the map-back.  Roots of another version or
    # id mode are rebuilt, never misread.
    salt = "+v2:hashed" if _hashes_ids(images) else "+v2:raw"
    cp = CheckpointedPipeline(spark, root, cfg.config_hash() + salt)
    res = _dedup_chain(images, cfg, cp.stage, [])
    # every stage is on disk now: free substring's candidate cache
    res.close()
    return res.assignments
