"""Fused multi-modal signature profile — ONE Arrow-vectorized pass.

The reference's bulked execution model (process a block of 512 rows with
all rotation/hash work while operands stay cache-resident,
/root/reference/src/main.cc:513-549, src/lsh.c:466-536) maps to a single
``mapInPandas`` stage that computes, per Arrow record batch:

  - CP-LSH buckets over the phash-derived unit vector (oracle/lsh_core.
    cp_bucket_keys: a matmul per 512-row block + vectorized argmax/argmin;
    semantics of src/lsh.c:203-220,328-342),
  - MinHash band hashes over caption shingles (Broder '97),
  - SimHash fingerprint over caption tokens (Charikar '02),
  - the shingle-hash set itself (reused by the exact-Jaccard verify, so
    the verify join ships compact int64 arrays, not strings).

Output: (image_id, phash, hs, cp_buckets, mh_bands, simhash) — a narrow,
shuffle-free stage.  All hashes share the portable polynomial hash62 family
(functions/hashing.py) and agree bit-exactly with the standalone
per-modality tables (operators/signatures.py) and the DuckDB oracle —
pinned by tests.

Why not the JVM higher-order-function path for the pipeline: Spark HOF
lambdas evaluate interpreted (outside whole-stage codegen); at num_perm x
shingles x rows element-ops they dominate the runtime.  numpy over Arrow
batches is the vectorized engine for exactly this shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import PipelineConfig
from ..functions.hashing import minhash_params
from ..oracle.lsh_core import cp_bucket_keys
from ..params import fold_rotations_2d
from ..sources.codecs import phash_to_vector
from .signatures import SIMHASH_SALT, simhash_band_expr

H32 = 1 << 32

# hs holds h32 - 2^31 as int32 (bijective shift) — half the bytes of int64
# through the verify join's shuffle; set intersection/union are unaffected
def profile_schema(id_type: str = "string") -> str:
    return (
        f"image_id {id_type}, phash long, hs array<int>, cp_buckets array<long>, "
        "mh_bands array<long>, simhash long, simhash2 long"
    )


def _caption_block(
    texts: list[str], k: int, a: np.ndarray, b: np.ndarray, c: np.ndarray,
    n_bands: int, rpb: int,
) -> tuple[list[np.ndarray], list[np.ndarray], list[int]]:
    """Batch-vectorized caption signatures for a block of documents.

    One hash62 per *unique* shingle in the block (small vocabularies repeat
    shingles heavily across docs), computed as ONE vectorized numpy pass —
    no per-shingle Python (round 2's per-unique-shingle md5 loop was 64% of
    e2e wall; the polynomial family removed it).  MinHash minima and SimHash
    bit votes run as segment reductions (np.minimum/add.reduceat) over one
    flat matrix — no per-document numpy call overhead.  The kernels live in
    functions/textsig.py and are shared with the standalone per-modality
    operators (operators/signatures.py), so the fused profile and the band
    tables are bit-identical by construction.

    Returns (hs int32 arrays, mh band arrays, simhash ints) per doc.
    h32 = h62 % 2^32 (stored int32-shifted), h56 = h62 >> 4 — one hash
    serves every consumer, matching the SQL renderings exactly."""
    from ..functions.textsig import (
        minhash_bands_from_block,
        shingle_hash_block,
        simhash_from_block,
    )

    n = len(texts)
    blk = shingle_hash_block(texts, k)
    inv, starts, lengths = blk.inv, blk.starts, blk.lengths
    mh_bands = minhash_bands_from_block(
        blk.h62, inv, starts, a, b, c, n_bands, rpb
    )
    simhashes = [int(x) for x in simhash_from_block(blk.h62, inv, starts)]
    # salted second fingerprint from lane composition — no second pass
    # over the shingle characters (functions/hashing.salted_hash62_np)
    simhashes2 = [
        int(x)
        for x in simhash_from_block(blk.salted_h62(SIMHASH_SALT), inv, starts)
    ]
    h32u = blk.h62 % H32

    hs32 = (h32u[inv] - (1 << 31)).astype(np.int32)
    ends = starts + lengths
    hs_list = [np.unique(hs32[starts[i] : ends[i]]) for i in range(n)]
    return hs_list, list(mh_bands), simhashes, simhashes2


def multimodal_profile(images: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """images(image_id, caption, phash) -> profile DF (see profile_schema)."""
    mh_cfg = cfg.minhash
    a, b, c = minhash_params(mh_cfg.num_perm, mh_cfg.seed)
    rpb, n_bands = mh_cfg.rows_per_band, mh_cfg.num_bands
    rot2d = fold_rotations_2d(cfg.cp)
    L, k = cfg.cp.num_tables, cfg.cp.k
    shingle_k = mh_cfg.shingle_size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            n = len(pdf)
            # --- CP-LSH: one BLAS call per 512-row block
            x = phash_to_vector(pdf["phash"].to_numpy())
            cp_buckets = cp_bucket_keys(x, rot2d, L, k)  # [n, L]
            # --- captions, in sub-blocks so the [shingles, num_perm]
            # minhash matrix stays ~100 MB
            hs_list, mh_list, sim_list, sim2_list = [], [], [], []
            texts = pdf["caption"].tolist()
            block = 2048
            for lo in range(0, n, block):
                h, m, s, s2 = _caption_block(
                    texts[lo : lo + block], shingle_k, a, b, c, n_bands, rpb
                )
                hs_list.extend(h)
                mh_list.extend(m)
                sim_list.extend(s)
                sim2_list.extend(s2)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "phash": pdf["phash"],
                    "hs": hs_list,
                    "cp_buckets": list(cp_buckets),
                    "mh_bands": mh_list,
                    "simhash": sim_list,
                    "simhash2": sim2_list,
                }
            )

    return images.select("image_id", "caption", "phash").mapInPandas(
        run, schema=profile_schema(dict(images.dtypes)["image_id"])
    )


def profile_signatures(profile: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Profile -> unified exploded signature table
    (image_id, modality, band, bucket); cheap JVM posexplode of tiny arrays."""
    cp = profile.select(
        "image_id", F.posexplode("cp_buckets").alias("band", "bucket")
    ).select("image_id", F.lit(0).alias("modality"), F.col("band").cast("int"), "bucket")
    mh = profile.select(
        "image_id", F.posexplode("mh_bands").alias("band", "bucket")
    ).select("image_id", F.lit(1).alias("modality"), F.col("band").cast("int"), "bucket")
    sh = profile.select(
        "image_id",
        F.explode(F.expr(f"sequence(0, {cfg.simhash.num_bands - 1})")).alias(
            "band_idx"
        ),
        "simhash",
        "simhash2",
    ).select(
        "image_id",
        F.lit(2).alias("modality"),
        F.col("band_idx").cast("int").alias("band"),
        F.expr(simhash_band_expr(cfg.simhash)).alias("bucket"),
    )
    return cp.unionByName(mh).unionByName(sh)


def verify_pairs_from_profile(
    cands: DataFrame, profile: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Exact verify: phash Hamming <= tau OR shingle Jaccard >= tau, joining
    only (id, phash, hs) — int64 arrays, no strings through the shuffle.

    Jaccard over distinct shingle *hashes* equals Jaccard over shingles up
    to h32-collision probability (~|S|^2 / 2^32 per doc pair — negligible
    and pinned by the pipeline-vs-oracle recall tests).
    """
    side = profile.select("image_id", "phash", "hs")
    a_side = side.select(
        F.col("image_id").alias("a"), F.col("phash").alias("pa"), F.col("hs").alias("ha")
    )
    b_side = side.select(
        F.col("image_id").alias("b"), F.col("phash").alias("pb"), F.col("hs").alias("hb")
    )
    return (
        cands.join(a_side, "a")
        .join(b_side, "b")
        .filter(
            F.expr(
                f"bit_count(pa ^ pb) <= {cfg.phash_hamming_threshold} OR "
                f"(size(array_intersect(ha, hb)) / size(array_union(ha, hb)))"
                f" >= {cfg.jaccard_threshold}"
            )
        )
        .select("a", "b")
    )
