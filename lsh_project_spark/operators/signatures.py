"""Signature operators: CP-LSH buckets, MinHash bands, SimHash bands.

CP-LSH (the reference's core, /root/reference/src/lsh.c:328-342 +
src/main.cc:294-323) runs the one shared kernel
``oracle/lsh_core.cp_bucket_keys`` per Arrow record batch — the
Spark-native form of the reference's "bulked" kernels
(src/lsh.c:466-536, bulk=512): each 512-row block's
`block[512,d] @ RotMat2d[d, L*k*d]` computes every table's every hash at
once, then a vectorized argmax/argmin + bit-concat; the block keeps the
float32 product in cache.  The folded rotation tensor is broadcast via
closure capture (~1 MiB).  The exploded (id, table_idx, bucket) tables
feed bucket equi-joins (``pipeline.all_signatures``, the multi-probe
gate); ``knn.cp_nearest_neighbor`` calls the same kernels inside its one
data pass and never explodes a table.

MinHash and SimHash (no reference analog; SURVEY.md §2.9) each run as ONE
Arrow-vectorized map stage over the shared numpy kernels in
functions/textsig.py (the portable polynomial hash62 family,
functions/hashing.py) — the same kernels the fused profile stage runs, so
both paths, and the DuckDB oracle, agree bit-for-bit.  Only the SimHash
band slicing (``simhash_band_expr``) and the shingle array expression
``shingle_expr`` (used by the SQL-checked queries) are JVM expressions.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import CrossPolytopeConfig, MinHashConfig, SimHashConfig
from ..functions.hashing import minhash_params
from ..oracle.lsh_core import cp_bucket_keys, cp_multiprobe_keys
from ..params import fold_rotations, fold_rotations_2d, rotations_2d
from .text import shingle_expr_sql


def cp_signature_table(
    features: DataFrame, cfg: CrossPolytopeConfig, id_col: str = "image_id"
) -> DataFrame:
    """(id, features[d]) -> exploded signature table (id, table_idx, bucket).

    This DataFrame *is* the reference's L hash tables
    (/root/reference/src/lsh.c:44,70-77): insertion = materialization,
    probe = equi-join on (table_idx, bucket).
    """
    # one [d, L*k*d] operand (float32, tiny -> closure capture)
    rot2d = fold_rotations_2d(cfg)
    L, k = cfg.num_tables, cfg.k

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["features"].to_numpy())
            buckets = cp_bucket_keys(x, rot2d, L, k)  # [B, L] int64
            yield _exploded(pdf[id_col].to_numpy(), buckets[None], id_col)

    id_type = dict(features.dtypes)[id_col]
    schema = f"{id_col} {id_type}, table_idx int, bucket long"
    return features.mapInPandas(sign, schema=schema)


def _exploded(ids: np.ndarray, keys: np.ndarray, id_col: str) -> pd.DataFrame:
    """(id, table_idx, bucket) rows of keys [P, n, L], probe-major: every
    row's P probes of every table."""
    n_probes, n, L = keys.shape
    return pd.DataFrame(
        {
            id_col: np.tile(np.repeat(ids, L), n_probes),
            "table_idx": np.tile(np.arange(L, dtype=np.int32), n_probes * n),
            "bucket": keys.reshape(-1),
        }
    )


def cp_multiprobe_signature_table(
    features: DataFrame, cfg: CrossPolytopeConfig, probes: int,
    id_col: str = "image_id", rot: np.ndarray | None = None,
) -> DataFrame:
    """Query-side multi-probe CP-LSH: (id, features) -> (id, table_idx,
    bucket) with up to ``probes`` buckets per (row, table) — the base bucket
    plus the cheapest single sub-hash swaps (oracle/lsh_core.
    cp_multiprobe_keys, which ``knn.cp_nearest_neighbor`` calls on its
    query side too).

    Probing multiplies per-table recall without growing the signature table:
    at equal recall an index needs fewer tables, i.e. fewer shuffled rows —
    the scale lever at 100 TB.

    ``rot`` overrides the folded rotation tensor [L, k, d, d] — the driver
    gate injects literal +-1 Hadamard*Rademacher matrices there so the
    float32 matmul is integer-exact and the probe sequence reproduces
    bit-for-bit in DuckDB SQL (plans/entry_queries.cp_multiprobe_buckets).
    """
    if rot is None:
        rot = fold_rotations(cfg)
    L, k, _, _ = rot.shape
    rot2d = rotations_2d(rot)

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["features"].to_numpy())
            keys = cp_multiprobe_keys(x, rot2d, L, k, probes)  # [P, n, L]
            yield _exploded(pdf[id_col].to_numpy(), keys, id_col)

    id_type = dict(features.dtypes)[id_col]
    return features.mapInPandas(
        sign, schema=f"{id_col} {id_type}, table_idx int, bucket long"
    )


# -------------------------------------------------------------------- MinHash


def shingle_expr(text_col: str, k: int):
    """``text.shingle_expr_sql`` as a JVM column expression."""
    return F.expr(shingle_expr_sql(text_col, k))


def _widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin a narrow scan across the cluster so the Arrow map stage
    after it (signatures here, the dedup chain's profile, near_dup_pairs'
    signs) parallelizes; a no-op at real scale where inputs have plenty
    of splits."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def minhash_band_table(
    docs: DataFrame, cfg: MinHashConfig, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text) -> (id, band_idx, band_hash): MinHash signatures banded
    for LSH — ONE Arrow-vectorized map stage, zero shuffles.

    Per permutation i: mh_i = min over shingles of (a_i * h32 + b_i) mod p.
    Band hash = sum over the band's rows of ((mh_i % 2^32) * c_i) % p —
    order-independent, so duplicates/order of the shingle hash set cannot
    change the result.

    Plan shape (scale-critical): each document's shingling, hashing,
    minima, and band sums all happen inside the scan's record batch via the
    shared numpy kernels (functions/textsig.py — the same code the fused
    profile stage runs, bit-identical by construction and pinned by
    tests/test_text_signatures.py).  Rounds <= 6 exploded one row per
    (doc, shingle) through an exchange and folded the minima with
    interpreted HOF lambdas — the shuffle AND the per-element interpreter
    are both gone (guide §2.4/§4.2), which is also the shape that scales:
    per-doc signatures come straight out of the scan."""
    a, b, c = minhash_params(cfg.num_perm, cfg.seed)
    n_bands, rpb = cfg.num_bands, cfg.rows_per_band
    shingle_k = cfg.shingle_size
    block = 2048

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.textsig import (
            minhash_bands_from_block,
            shingle_hash_block,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf[text_col].fillna("").tolist()
            outs = []
            # sub-blocks bound the [shingles, num_perm] minhash matrix
            for lo in range(0, len(texts), block):
                blk = shingle_hash_block(texts[lo : lo + block], shingle_k)
                outs.append(
                    minhash_bands_from_block(
                        blk.h62, blk.inv, blk.starts, a, b, c, n_bands, rpb
                    )
                )
            mb = np.concatenate(outs, axis=0) if len(outs) > 1 else outs[0]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_bands),
                    "band_idx": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(pdf)
                    ),
                    "band_hash": mb.reshape(-1),
                }
            )

    id_type = dict(docs.dtypes)[id_col]
    return _widen_narrow_scan(docs.select(id_col, text_col)).mapInPandas(
        run, schema=f"{id_col} {id_type}, band_idx int, band_hash long"
    )


# -------------------------------------------------------------------- SimHash

SIMHASH_SALT = "s2:"  # prefix for the second independent fingerprint


def simhash_table(
    docs: DataFrame, cfg: SimHashConfig, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text) -> (id, simhash, simhash2): two independent 56-bit SimHash
    fingerprints over distinct word 3-shingles (the second uses a salted
    hash family — together they band into 4 x 28-bit slices, see
    SimHashConfig).  Shingle hashing, the bit votes and the fingerprint
    fold all run in numpy inside one Arrow map stage.

    bit b = 1 iff sum over shingles of (2*bit_b(hash56(shingle)) - 1) > 0,
    with hash56 = hash62 >> 4 (only bits 0..55 are read).  Shingle features
    (vs raw tokens) keep fingerprints spread out when the vocabulary is
    small — token-level SimHash collapses onto few values and floods the
    band buckets.

    Plan shape: ONE Arrow-vectorized map stage, zero shuffles — the same
    shared numpy kernels as the fused profile (functions/textsig.py), so
    the standalone table is bit-identical to the pipeline's fingerprints.
    Rounds <= 6 exploded per-shingle rows through an exchange and voted the
    56 bits with interpreted HOF folds over collect_list (guide §4.2: the
    per-element interpreter dominated)."""
    block = 2048

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.textsig import shingle_hash_block, simhash_from_block

        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf[text_col].fillna("").tolist()
            s1, s2 = [], []
            for lo in range(0, len(texts), block):
                blk = shingle_hash_block(texts[lo : lo + block], 3)
                s1.append(simhash_from_block(blk.h62, blk.inv, blk.starts))
                s2.append(
                    simhash_from_block(
                        blk.salted_h62(SIMHASH_SALT), blk.inv, blk.starts
                    )
                )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "simhash": np.concatenate(s1),
                    "simhash2": np.concatenate(s2),
                }
            )

    id_type = dict(docs.dtypes)[id_col]
    return _widen_narrow_scan(docs.select(id_col, text_col)).mapInPandas(
        run, schema=f"{id_col} {id_type}, simhash long, simhash2 long"
    )


def simhash_band_expr(cfg: SimHashConfig, col1: str = "simhash", col2: str = "simhash2") -> str:
    """SQL for the band bucket given band_idx: slices of the concatenated
    (simhash, simhash2) fingerprint, bits_per_band wide."""
    bpb, bph = cfg.bits_per_band, cfg.bands_per_hash
    mask = (1 << cfg.bits_per_band) - 1
    return (
        f"(case when band_idx < {bph} then {col1} >> (band_idx * {bpb}) "
        f"else {col2} >> ((band_idx - {bph}) * {bpb}) end) & {mask}"
    )


def simhash_band_table(
    simhashes: DataFrame, cfg: SimHashConfig, id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash, simhash2) -> (id, band_idx, band_hash): bit-slice
    banding over the concatenated 112-bit fingerprint.  Two fingerprints
    within Hamming r of each other collide on >= 1 band when banded into
    more than r slices (pigeonhole)."""
    return simhashes.select(
        id_col,
        F.explode(F.expr(f"sequence(0, {cfg.num_bands - 1})")).alias("band_idx"),
        "simhash",
        "simhash2",
    ).select(
        id_col,
        "band_idx",
        F.expr(simhash_band_expr(cfg)).alias("band_hash"),
    )
