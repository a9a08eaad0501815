"""Incremental streaming dedup == batch dedup over the same rows."""

import pyspark.sql.functions as F
import pytest

from lsh_project_spark.config import PipelineConfig
from lsh_project_spark.pipeline import dedup_pipeline
from lsh_project_spark.sources.fixtures import images_table
from lsh_project_spark.streaming.incremental import IncrementalDedup


def test_streaming_matches_batch(spark, tmp_path):
    images = images_table(spark, num_clusters=15, seed=23).cache()
    images.count()

    # batch ground truth: ALL FOUR modalities, substring included —
    # streaming's fp/caption stores must reproduce the batch OR-union
    cfg = PipelineConfig()
    batch_pairs = {
        (r["a"], r["b"])
        for r in dedup_pipeline(images, cfg).verified_pairs.collect()
    }

    # stream the same rows in two file micro-batches
    src = str(tmp_path / "stream_src")
    images.filter(F.expr("pmod(phash, 2) = 0")).write.parquet(f"{src}/b0")
    images.filter(F.expr("pmod(phash, 2) != 0")).write.parquet(f"{src}/b1")
    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{src}/b*")
    )

    inc = IncrementalDedup(spark, str(tmp_path / "state"), cfg)
    q = inc.start(stream, trigger_available_now=True)
    q.awaitTermination(300)

    stream_pairs = {(r["a"], r["b"]) for r in inc.verified_pairs().collect()}
    assert stream_pairs == batch_pairs

    # clustering over streamed state matches batch assignments
    batch_asg = {
        (r["image_id"], r["cluster_id"])
        for r in dedup_pipeline(images, cfg).assignments.collect()
    }
    stream_asg = {
        (r["image_id"], r["cluster_id"]) for r in inc.assignments().collect()
    }
    assert stream_asg == batch_asg


def test_streaming_many_batches_with_compaction(spark, tmp_path):
    """10 micro-batches through the partitioned stores with compaction every
    4 batches: results still match the batch pipeline, and compaction leaves
    one file per store partition (bounded per-batch planning cost)."""
    import glob
    import os

    images = images_table(spark, num_clusters=12, seed=31).cache()
    images.count()
    cfg = PipelineConfig()
    batch_pairs = {
        (r["a"], r["b"])
        for r in dedup_pipeline(images, cfg).verified_pairs.collect()
    }

    inc = IncrementalDedup(
        spark, str(tmp_path / "state"), cfg, num_store_partitions=8,
        compact_every=4,
    )
    # drive foreachBatch directly: 10 deterministic slices
    for b in range(10):
        inc.process_batch(images.filter(F.expr(f"pmod(phash, 10) = {b}")), b)
    inc.compact()

    stream_pairs = {(r["a"], r["b"]) for r in inc.verified_pairs().collect()}
    assert stream_pairs == batch_pairs

    # compaction: exactly one parquet file per partition dir in all stores
    for store in (inc.sig_store_path, inc.store_path, inc.fp_store_path,
                  inc.caption_store_path):
        part_dirs = [d for d in glob.glob(os.path.join(store, "*=*"))]
        assert part_dirs, store
        for d in part_dirs:
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)

    # store reads for a batch are partition-pruned (exact: equal bucket
    # keys imply equal pbucket partition)
    hit = [0, 3]
    plan = (
        spark.read.parquet(inc.sig_store_path)
        .filter(F.col("pbucket").isin(hit))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "pbucket" in plan


def test_streaming_hot_bucket_micro_batch(spark, tmp_path):
    """A degenerate micro-batch (hundreds of rows colliding in one bucket)
    must go through the salted hot-bucket star defense, not a quadratic
    self-join: candidate edges stay O(n) per hot bucket while the batch's
    rows still land in ONE cluster (round-4: intra-batch candidates route
    through candidate_pairs)."""
    import numpy as np
    import pandas as pd

    from lsh_project_spark.sources.fixtures import IMAGES_SCHEMA

    # identical caption + identical phash -> every signature modality puts
    # all n rows in the same buckets; n >> hot_bucket_threshold (32)
    n = 300
    rows = pd.DataFrame(
        {
            "image_id": [f"hot{i:04d}" for i in range(n)],
            "bytes": [None] * n,
            "w": np.int32(8),
            "h": np.int32(8),
            "fmt": "png",
            "caption": "the very same caption text for every row here",
            "phash": np.int64(123456789),
            "true_cluster_id": np.int64(1),
        }
    )
    images = spark.createDataFrame(rows, IMAGES_SCHEMA)
    cfg = PipelineConfig(substring_enabled=False)
    inc = IncrementalDedup(spark, str(tmp_path / "state"), cfg)
    inc.process_batch(images, 0)

    pairs = inc.verified_pairs()
    n_pairs = pairs.count()
    # star defense: linear in n, nowhere near the C(n,2) = 44,850 of a raw
    # self-join (chained star emits <= n-1 edges per bucket; pair dedup
    # across modalities keeps the union small)
    assert n_pairs < 5 * n, n_pairs
    # ...but connectivity survives: all rows in one cluster
    asg = inc.assignments()
    assert asg.select("cluster_id").distinct().count() == 1
    assert asg.count() == n


def test_incremental_assignments_across_batches(spark, tmp_path):
    """Round-5: cluster maintenance is incremental — an assignment store +
    remap forest updated per micro-batch.  Three batches where batch 3's
    pairs MERGE clusters created in batches 1 and 2: the incremental
    assignments must equal both the full batch-CC recompute and the batch
    pipeline over the union, before and after compaction folds the remap
    into the store."""
    import json
    import os

    images = images_table(spark, num_clusters=10, seed=47).cache()
    images.count()
    cfg = PipelineConfig()
    inc = IncrementalDedup(
        spark, str(tmp_path / "state"), cfg, num_store_partitions=8
    )
    # interleave cluster families across batches so near-dup pairs straddle
    # batch boundaries (variant index mod 3)
    for b in range(3):
        inc.process_batch(
            images.filter(
                F.expr(f"pmod(cast(substring(image_id, -1, 1) as int), 3) = {b}")
            ),
            b,
        )

    assert os.path.exists(os.path.join(inc.assign_store_path, "_SUCCESS"))
    incr = {(r["image_id"], r["cluster_id"]) for r in inc.assignments().collect()}
    recomputed = {
        (r["image_id"], r["cluster_id"])
        for r in inc.assignments_recomputed().collect()
    }
    assert incr == recomputed
    batch_asg = {
        (r["image_id"], r["cluster_id"])
        for r in dedup_pipeline(images, cfg).assignments.collect()
    }
    assert incr == batch_asg

    inc.compact()
    after = {(r["image_id"], r["cluster_id"]) for r in inc.assignments().collect()}
    assert after == batch_asg


def test_incremental_merge_of_existing_clusters(spark, tmp_path):
    """A batch-3 bridge row that connects TWO clusters committed in earlier
    batches: the merge must land in the remap forest (no member rewrite),
    assignments must equal the full recompute, and compact() must fold the
    remap into the store."""
    import json

    import numpy as np
    import pandas as pd

    from lsh_project_spark.sources.fixtures import IMAGES_SCHEMA

    def mk(ids, caption, phash):
        n = len(ids)
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": ids,
                    "bytes": [None] * n,
                    "w": np.int32(8),
                    "h": np.int32(8),
                    "fmt": "png",
                    "caption": caption,
                    "phash": np.int64(phash),
                    "true_cluster_id": np.int64(0),
                }
            ),
            IMAGES_SCHEMA,
        )

    cap_x = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    cap_y = "one two three four five six seven eight nine ten eleven"
    cfg = PipelineConfig(substring_enabled=False)
    inc = IncrementalDedup(spark, str(tmp_path / "state"), cfg)
    inc.process_batch(mk([f"a{i}" for i in range(4)], cap_x, 1111), 0)
    inc.process_batch(mk([f"b{i}" for i in range(4)], cap_y, 1 << 40), 1)
    two = {(r["image_id"], r["cluster_id"]) for r in inc.assignments().collect()}
    assert len({c for _, c in two}) == 2  # two separate clusters so far
    # bridge: phash matches cluster A (Hamming 0), caption matches cluster B
    inc.process_batch(mk(["zbridge"], cap_y, 1111), 2)

    with open(inc.remap_path) as f:
        remap = json.load(f)
    assert len(remap) > 0  # an existing cluster was re-rooted, not rewritten
    incr = {(r["image_id"], r["cluster_id"]) for r in inc.assignments().collect()}
    assert incr == {
        (r["image_id"], r["cluster_id"])
        for r in inc.assignments_recomputed().collect()
    }
    assert len({c for _, c in incr}) == 1 and len(incr) == 9
    inc.compact()
    with open(inc.remap_path) as f:
        assert json.load(f) == []
    assert incr == {
        (r["image_id"], r["cluster_id"]) for r in inc.assignments().collect()
    }


def test_incremental_rearriving_id_keeps_stored_label(spark, tmp_path):
    """An id that RE-ARRIVES in a later micro-batch (round-5 advice): its
    prior assignment must seed the union-find, and the store must NOT gain
    a second, conflicting row.  The adversarial shape is a re-arrival whose
    new content links to nothing — the round-5 code seeded it from itself
    (base[i] = i) and appended (a3, a3) next to the stored (a3, a0), making
    assignments() nondeterministic under dropDuplicates."""
    import numpy as np
    import pandas as pd

    from lsh_project_spark.sources.fixtures import IMAGES_SCHEMA

    def mk(ids, caption, phash):
        n = len(ids)
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": ids,
                    "bytes": [None] * n,
                    "w": np.int32(8),
                    "h": np.int32(8),
                    "fmt": "png",
                    "caption": caption,
                    "phash": np.int64(phash),
                    "true_cluster_id": np.int64(0),
                }
            ),
            IMAGES_SCHEMA,
        )

    cap = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    cfg = PipelineConfig(substring_enabled=False)
    inc = IncrementalDedup(spark, str(tmp_path / "state"), cfg)
    inc.process_batch(mk([f"a{i}" for i in range(4)], cap, 1111), 0)
    before = {
        (r["image_id"], r["cluster_id"]) for r in inc.assignments().collect()
    }
    assert before == {(f"a{i}", "a0") for i in range(4)}

    # a3 re-arrives with content that matches NOTHING (fresh caption, far
    # phash): no pairs form, so only the prior-label lookup can keep it in
    # its cluster
    inc.process_batch(
        mk(["a3"], "completely different words with no overlap at all", 1 << 40),
        1,
    )

    store = spark.read.parquet(inc.assign_store_path)
    a3_rows = store.filter(F.col("image_id") == "a3").collect()
    assert len(a3_rows) == 1, f"re-arrival appended a duplicate row: {a3_rows}"
    assert a3_rows[0]["cluster_id"] == "a0"
    after = {
        (r["image_id"], r["cluster_id"]) for r in inc.assignments().collect()
    }
    assert after == before
    assert after == {
        (r["image_id"], r["cluster_id"])
        for r in inc.assignments_recomputed().collect()
    }

    # re-arrival that BRIDGES: a3 comes back matching a brand-new family's
    # caption — its stored root and the new ids must land in one cluster,
    # identically to the full recompute
    inc.process_batch(
        mk(["a3", "c0", "c1"], "one two three four five six seven eight nine ten", 1 << 40),
        2,
    )
    incr = {
        (r["image_id"], r["cluster_id"]) for r in inc.assignments().collect()
    }
    assert incr == {
        (r["image_id"], r["cluster_id"])
        for r in inc.assignments_recomputed().collect()
    }
    assert {c for i, c in incr if i in {"a0", "a3", "c0", "c1"}} == {"a0"}
    assert len(store.filter(F.col("image_id") == "a3").collect()) == 1


def test_streaming_store_side_hot_bucket_cap(spark, tmp_path):
    """A degenerate bucket ACCUMULATED IN THE STORE (round-4 advice): a new
    batch hitting it must produce bounded candidates — the store side is
    capped per bucket — while the new rows still join the big cluster."""
    import numpy as np
    import pandas as pd

    from lsh_project_spark.sources.fixtures import IMAGES_SCHEMA

    def mk(ids):
        n = len(ids)
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": ids,
                    "bytes": [None] * n,
                    "w": np.int32(8),
                    "h": np.int32(8),
                    "fmt": "png",
                    "caption": "the very same caption text for every row here",
                    "phash": np.int64(987654321),
                    "true_cluster_id": np.int64(1),
                }
            ),
            IMAGES_SCHEMA,
        )

    cfg = PipelineConfig(substring_enabled=False, hot_bucket_threshold=32)
    inc = IncrementalDedup(spark, str(tmp_path / "state"), cfg)
    # accumulate a 300-member degenerate bucket in the store
    inc.process_batch(mk([f"s{i:04d}" for i in range(300)]), 0)
    pairs_before = inc.verified_pairs().count()
    # a 20-row batch hitting the same buckets: candidates must stay far
    # below 20 * 300 per modality (the uncapped cross-join volume)
    inc.process_batch(mk([f"n{i:04d}" for i in range(20)]), 1)
    new_pairs = inc.verified_pairs().count() - pairs_before
    assert new_pairs < 20 * cfg.hot_bucket_threshold * 3, new_pairs
    asg = inc.assignments()
    assert asg.count() == 320
    assert asg.select("cluster_id").distinct().count() == 1


def test_streaming_snapshot_sink_time_travel_and_exactly_once(spark, tmp_path):
    """pairs_table_root: one append snapshot per non-empty micro-batch,
    pair counts monotone across snapshots, final table == plain pairs
    store semantics, and a simulated foreachBatch retry is a no-op."""
    images = images_table(spark, num_clusters=12, seed=31).cache()
    images.count()
    cfg = PipelineConfig()
    batch_pairs = {
        (r["a"], r["b"])
        for r in dedup_pipeline(images, cfg).verified_pairs.collect()
    }

    src = str(tmp_path / "stream_src")
    images.filter(F.expr("pmod(phash, 2) = 0")).write.parquet(f"{src}/b0")
    images.filter(F.expr("pmod(phash, 2) != 0")).write.parquet(f"{src}/b1")
    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{src}/b*")
    )
    inc = IncrementalDedup(
        spark, str(tmp_path / "state"), cfg,
        pairs_table_root=str(tmp_path / "pairs_tbl"),
    )
    q = inc.start(stream, trigger_available_now=True)
    q.awaitTermination(300)

    snaps = inc.pairs_table.snapshots()
    assert len(snaps) >= 1
    assert [s["batch_id"] for s in snaps] == list(range(len(snaps)))
    # cumulative counts are monotone and the current read matches batch
    counts = [inc.verified_pairs(snapshot_id=s["id"]).count() for s in snaps]
    assert counts == sorted(counts)
    stream_pairs = {(r["a"], r["b"]) for r in inc.verified_pairs().collect()}
    assert stream_pairs == batch_pairs

    # a replayed micro-batch (same batch_id) must not double-append
    last = snaps[-1]
    replay = inc.verified_pairs().limit(5)
    assert inc.pairs_table.commit_append(
        replay, batch_id=last["batch_id"]
    ) is None
    assert inc.pairs_table.current_id() == last["id"]
    # assignments_recomputed consumes the snapshot table transparently
    asg = {
        (r["image_id"], r["cluster_id"])
        for r in inc.assignments_recomputed().collect()
    }
    batch_asg = {
        (r["image_id"], r["cluster_id"])
        for r in dedup_pipeline(images, cfg).assignments.collect()
    }
    assert asg == batch_asg


def test_streaming_sink_compaction_mid_stream(spark, tmp_path):
    """pairs_table + compact_every: the rewrite_data_files commit fires
    INSIDE the stream; later batches append on top of the compacted
    snapshot, retries stay idempotent across it, read fan-in is bounded,
    and the final pairs still match the batch pipeline."""
    images = images_table(spark, num_clusters=12, seed=31).cache()
    images.count()
    cfg = PipelineConfig()
    batch_pairs = {
        (r["a"], r["b"])
        for r in dedup_pipeline(images, cfg).verified_pairs.collect()
    }

    inc = IncrementalDedup(
        spark, str(tmp_path / "state"), cfg, num_store_partitions=8,
        compact_every=2, pairs_table_root=str(tmp_path / "ptbl"),
    )
    for b in range(6):
        inc.process_batch(images.filter(F.expr(f"pmod(phash, 6) = {b}")), b)

    snaps = inc.pairs_table.snapshots()
    notes = [s["note"] for s in snaps]
    assert any("compaction" in n for n in notes), notes
    # compaction bounds fan-in: the current manifest references at most
    # compact_every + 1 dirs (deltas since the last rewrite + the rewrite)
    assert len(snaps[-1]["dirs"]) <= 3, snaps[-1]["dirs"]

    # a replay of the last micro-batch after everything: skipped
    last_bid = max(s["batch_id"] for s in snaps if "batch_id" in s)
    assert inc.pairs_table.commit_append(
        inc.verified_pairs().limit(1), batch_id=last_bid
    ) is None

    stream_pairs = {(r["a"], r["b"]) for r in inc.verified_pairs().collect()}
    assert stream_pairs == batch_pairs


def test_failed_batch_leaves_no_cache(spark, tmp_path, monkeypatch):
    """A micro-batch that raises mid-way still unpersists everything it
    persisted (profile, signatures, candidates)."""
    from lsh_project_spark.streaming import incremental

    class Boom(RuntimeError):
        pass

    def fail(*args, **kwargs):
        raise Boom("verify")

    monkeypatch.setattr(incremental, "verify_pairs_from_profile", fail)
    images = images_table(spark, num_clusters=4, seed=5).select(
        "image_id", "caption", "phash"
    )
    spark.catalog.clearCache()
    inc = IncrementalDedup(spark, str(tmp_path / "state"), PipelineConfig())
    with pytest.raises(Boom):
        inc.process_batch(images, 0)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_default_sink_skips_a_replayed_batch(spark, tmp_path):
    """The default constructor commits pairs to the snapshot table under
    ``state_dir/verified_pairs``: replaying a micro-batch whose batch id is
    already committed (a foreachBatch retry) adds no pairs snapshot and
    leaves verified_pairs() unchanged."""
    import os

    images = images_table(spark, num_clusters=6, seed=5).cache()
    images.count()
    state = str(tmp_path / "state")
    inc = IncrementalDedup(spark, state)
    assert inc.pairs_table.root == os.path.join(state, "verified_pairs")
    part = F.pmod(F.xxhash64("image_id"), F.lit(2))
    batches = [images.filter(part == b) for b in (0, 1)]
    for b, df in enumerate(batches):
        inc.process_batch(df, b)
    snaps = inc.pairs_table.snapshots()
    assert [s["batch_id"] for s in snaps] == [0, 1]
    before = {(r["a"], r["b"]) for r in inc.verified_pairs().collect()}
    assert before

    inc.process_batch(batches[1], 1)
    assert inc.pairs_table.snapshots() == snaps
    assert {(r["a"], r["b"]) for r in inc.verified_pairs().collect()} == before
