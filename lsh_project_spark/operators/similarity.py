"""Similarity search over embedding columns (array<float>).

Every search is a candidate source, an exact cosine check of each
candidate (reference src/lsh.c:851-877) and the best k kept
(src/main.cc:369-408).  The check and the top-k are written once:
``exact_cosine`` is the numpy kernel (sequential float64 folds,
bit-identical to the SQL folds and to DuckDB's ``list_dot_product`` over
DOUBLE[]; NaN, which Spark stores as null, for a zero norm),
``cosine_scores`` the one Spark stage that runs it, and ``cosine_topk``
the one rank window (cos desc with nulls last, then id).  The candidate
sources:

- ``brute_force_topk``: every vector — the reference's ground-truth scan
  (src/main.cc:91-113), the baseline the approximate paths are checked
  against.
- ``ann_topk_lsh``: shared buckets of ``hyperplane_signatures`` (signs of
  the CP path's folded Hadamard rotations, src/lsh.c:110-176), with
  query multi-probe.
- ``ann_topk_portable``: shared buckets of ``portable_signatures``
  (``rademacher_planes``, ``auto_bits``), which a DuckDB twin reproduces.
- ``near_dup_pairs``: ``candidates.candidate_pairs`` over the portable
  buckets, kept at cosine >= threshold.
- ``ivf.ivf_topk``: the members of each query's probed inverted lists.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..config import CrossPolytopeConfig
from ..params import fold_rotations


def _fold(x: np.ndarray) -> np.ndarray:
    # row sums as SQL's left-to-right fold from 0.0: the leading 0.0 +
    # only turns np.add.accumulate's all-(-0.0) sum into the fold's +0.0
    return 0.0 + np.add.accumulate(x, axis=1)[:, -1]


def exact_cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine of each row of ``a`` with the same row of ``b`` ([n, d]
    each): ``dot / (sqrt(aa) * sqrt(bb))`` in float64.  A float32 widened
    to float64 multiplies exactly as ``cast(x as double)`` does and every
    sum is a sequential fold, so each value is bit-identical to the SQL
    folds and DuckDB's ``list_dot_product`` over DOUBLE[].  A zero norm
    gives NaN (0/0) rather than an error."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        return _fold(a * b) / (np.sqrt(_fold(a * a)) * np.sqrt(_fold(b * b)))


def cosine_scores(
    pairs: DataFrame, qid_col: str, id_col: str, vec_col: str,
    queries: DataFrame | None = None, vectors: DataFrame | None = None,
) -> DataFrame:
    """(qid, id, cos) for every row of ``pairs``, in one numpy map stage
    through ``exact_cosine``.  ``pairs`` either carries both vectors
    already (the query's as ``qv``, the candidate's as ``vec_col``) or is
    a bare (qid, id) list that gets ``queries``' and ``vectors``' vectors
    joined on by key.  NaN cosines (zero norms) reach Spark as null."""
    if queries is not None:
        pairs = pairs.join(
            queries.select(qid_col, F.col(vec_col).alias("qv")), qid_col
        ).join(vectors.select(id_col, vec_col), id_col)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf[[qid_col, id_col]].copy()
            out["cos"] = exact_cosine(
                np.vstack(pdf["qv"].to_numpy()),
                np.vstack(pdf[vec_col].to_numpy()),
            )
            yield out

    types = dict(pairs.dtypes)
    return pairs.select(qid_col, id_col, "qv", vec_col).mapInPandas(
        score,
        schema=f"{qid_col} {types[qid_col]}, {id_col} {types[id_col]}, cos double",
    )


def cosine_topk(scored: DataFrame, qid_col: str, id_col: str, k: int) -> DataFrame:
    """(qid, rank, neighbor_id, cos): each query's k best candidates by
    cos desc, ties to the lower id.  Null cosines sort last, so a zero
    vector never ranks ahead of a defined neighbor (DuckDB's NULL order)."""
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", F.col(id_col).alias("neighbor_id"), "cos")
    )


def brute_force_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    qid_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k of each query against all vectors (excluding
    self-matches by id); ``cos`` rounded to 6 decimals, null for a zero
    norm."""
    pairs = (
        queries.select(qid_col, F.col(vec_col).alias("qv"))
        .crossJoin(vectors.select(id_col, vec_col))
        .filter(F.col(id_col) != F.col(qid_col))
    )
    scored = cosine_scores(pairs, qid_col, id_col, vec_col)
    return cosine_topk(scored, qid_col, id_col, k).withColumn("cos", F.round("cos", 6))


def hyperplane_signatures(
    vectors: DataFrame, dim: int, num_tables: int = 8, bits: int = 16,
    seed: int = 7349, id_col: str = "vec_id", vec_col: str = "embedding",
    probes: int = 1,
) -> DataFrame:
    """Sign-LSH buckets: (id, table_idx, bucket).  bits coordinate signs of
    the structured-rotated vector per table, packed into an int bucket.

    ``probes > 1`` (query side) emits up to that many buckets per (row,
    table): the base bucket plus single-bit flips at the lowest-|margin|
    coordinates — multi-probe LSH (Lv et al. '07).  Each probe multiplies
    per-table recall without growing the data-side table."""
    cfg = CrossPolytopeConfig(
        dim=dim, k=1, num_tables=num_tables, num_rotations=3, seed=seed
    )
    rot = fold_rotations(cfg)[:, 0]  # [L, d, d]
    L = num_tables
    rot2d = np.ascontiguousarray(rot.transpose(2, 0, 1).reshape(dim, L * dim))
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            n = len(pdf)
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float32)
            y = (x @ rot2d).reshape(n, L, dim)[:, :, :bits]
            base = ((y > 0).astype(np.int64) * weights[None, None, :]).sum(axis=2)
            ids, tids, buckets = [], [], []
            idv = pdf[id_col].to_numpy()
            flip_order = np.argsort(np.abs(y), axis=2)  # ascending margin
            for p in range(min(probes, bits + 1)):
                if p == 0:
                    b = base
                else:
                    b = base ^ (np.int64(1) << flip_order[:, :, p - 1])
                ids.append(np.repeat(idv, L))
                tids.append(np.tile(np.arange(L, dtype=np.int32), n))
                buckets.append(b.reshape(-1))
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(ids),
                    "table_idx": np.concatenate(tids),
                    "bucket": np.concatenate(buckets),
                }
            )

    id_type = dict(vectors.dtypes)[id_col]
    return vectors.select(id_col, vec_col).mapInPandas(
        sign, schema=f"{id_col} {id_type}, table_idx int, bucket long"
    )


def auto_bits(n: int, target_bucket: int = 8, floor_bits: int = 4) -> int:
    """Bucket-key width scaled to corpus size: ~log2(n / target_bucket),
    computed with integer arithmetic so every engine derives the same value.
    Keeps expected bucket occupancy ~constant as n grows — candidate count
    per query stays O(target_bucket * L) instead of O(n / 2^bits_fixed)."""
    return max(floor_bits, ((max(n, 1) - 1) // target_bucket).bit_length())


def rademacher_planes(
    seed: int, num_tables: int, max_bits: int, dim: int
) -> list[list[str]]:
    """Deterministic ±1 hyperplanes rendered as '+'/'-' strings (one char
    per dimension) — a form every engine can consume: Spark and DuckDB
    parse the same literal, numpy maps it to a ±1 matrix.  Sign-LSH with
    Rademacher planes has the same collision geometry as Gaussian planes
    (Achlioptas '01 sparse/binary projections)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    bits = rng.integers(0, 2, size=(num_tables, max_bits, dim))
    return [
        ["".join("+" if b else "-" for b in row) for row in tbl] for tbl in bits
    ]


ANN_SEED = 240817
ANN_MAX_BITS = 16


# row-block for the [rows, tables*bits, dim] float64 product/accumulate
# temporaries below (512 x 128 x 64 x 8 B = 33 MB, cache/memory friendly)
_SIGN_BLOCK = 512


def portable_signatures(
    vectors: DataFrame, planes: list[list[str]], bits: int,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
) -> DataFrame:
    """(id, vec) -> (id, table_idx, bucket) with engine-portable sign
    decisions (see rademacher_planes), computed in ONE numpy map stage.

    Bit-exactness with the SQL renderings: multiplying a double by ±1.0 is
    exact in IEEE 754, and ``np.add.accumulate`` produces the same strict
    left-to-right double summation as the SQL sequential fold (acc starts
    at 0.0; 0.0 + v0 == v0), so every sign test — and therefore every
    bucket integer — is identical to the DuckDB oracle's.

    Why numpy and not the round-6 unrolled JVM expressions: the unrolled
    form was num_tables x bits aggregate folds over 64-element array
    literals — a huge expression tree that the optimizer re-processed at
    every AQE stage (measured: the wall of the near-dup query was ~40%
    driver-side planning gaps between sub-second jobs).  The numpy stage
    keeps the plan tree tiny and the per-row work vectorized."""
    P = np.array(
        [
            [1.0 if c == "+" else -1.0 for c in row]
            for tbl in planes
            for row in tbl[:bits]
        ],
        dtype=np.float64,
    )[:, :dim]  # [T*bits, d]
    T = len(planes)
    weights = np.int64(1) << np.arange(bits, dtype=np.int64)

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids_all, tid_all, b_all = [], [], []
            for lo in range(0, len(pdf), _SIGN_BLOCK):
                sub = pdf.iloc[lo : lo + _SIGN_BLOCK]
                x = np.vstack(sub[vec_col].to_numpy()).astype(np.float64)
                prods = x[:, None, :] * P[None, :, :]  # [n, T*bits, d]
                dots = np.add.accumulate(prods, axis=2)[:, :, -1]
                hits = (dots > 0).reshape(len(sub), T, bits)
                buckets = (hits * weights[None, None, :]).sum(axis=2)
                ids_all.append(np.repeat(sub[id_col].to_numpy(), T))
                tid_all.append(np.tile(np.arange(T, dtype=np.int32), len(sub)))
                b_all.append(buckets.reshape(-1))
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(ids_all),
                    "table_idx": np.concatenate(tid_all),
                    "bucket": np.concatenate(b_all),
                }
            )

    id_type = dict(vectors.dtypes)[id_col]
    return vectors.select(id_col, vec_col).mapInPandas(
        sign, schema=f"{id_col} {id_type}, table_idx int, bucket long"
    )


def _bucket_topk(
    vsig: DataFrame, qsig: DataFrame, vectors: DataFrame, queries: DataFrame,
    k: int, id_col: str, vec_col: str, qid_col: str,
) -> DataFrame:
    """Sign-LSH top-k: every vector sharing a (table_idx, bucket) with the
    query is a candidate (an equi-join, never a cross join; self-matches
    and repeats across tables dropped), then the shared exact re-rank."""
    cands = (
        qsig.join(vsig, ["table_idx", "bucket"])
        .filter(F.col(qid_col) != F.col(id_col))
        .select(qid_col, id_col)
        .dropDuplicates([qid_col, id_col])
    )
    scored = cosine_scores(cands, qid_col, id_col, vec_col, queries, vectors)
    return cosine_topk(scored, qid_col, id_col, k)


def ann_topk_portable(
    vectors: DataFrame, queries: DataFrame, k: int = 5, num_tables: int = 8,
    bits: int | None = None, id_col: str = "vec_id", vec_col: str = "embedding",
    qid_col: str = "query_id", dim: int = 64, n: int | None = None,
) -> DataFrame:
    """Sign-LSH ANN with cross-engine-portable hashing: candidates from
    shared (table, bucket), exact cosine re-rank, top-k.  ``bits`` defaults
    to auto_bits(n) so bucket occupancy — and therefore per-query candidate
    count — stays ~constant as the corpus grows.  Pass ``n`` (corpus size,
    e.g. from catalog stats) to avoid the count job."""
    if bits is None:
        bits = auto_bits(n if n is not None else vectors.count())
    planes = rademacher_planes(ANN_SEED, num_tables, ANN_MAX_BITS, dim)
    vsig = portable_signatures(vectors, planes, bits, id_col, vec_col, dim)
    qsig = portable_signatures(
        queries.withColumnRenamed(qid_col, id_col), planes, bits, id_col,
        vec_col, dim,
    ).withColumnRenamed(id_col, qid_col)
    top = _bucket_topk(vsig, qsig, vectors, queries, k, id_col, vec_col, qid_col)
    return top.drop("cos")


def ann_topk_lsh(
    vectors: DataFrame, queries: DataFrame, dim: int, k: int = 5,
    num_tables: int = 8, bits: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding", qid_col: str = "query_id",
    probes: int = 1, n: int | None = None,
) -> DataFrame:
    """Approximate top-k: sign-LSH candidates -> exact cosine re-rank.

    At scale this replaces the O(Q*N) cross join with an equi-join whose
    cost tracks true near-neighbor density.  ``bits`` defaults to
    auto_bits(n) (bucket occupancy ~constant in n; pass ``n`` from catalog
    stats to avoid the count job); ``probes`` enables query-side multi-probe."""
    if bits is None:
        bits = auto_bits(n if n is not None else vectors.count())
    vsig = hyperplane_signatures(
        vectors, dim, num_tables, bits, id_col=id_col, vec_col=vec_col
    )
    qsig = hyperplane_signatures(
        queries.withColumnRenamed(qid_col, id_col), dim, num_tables, bits,
        id_col=id_col, vec_col=vec_col, probes=probes,
    ).withColumnRenamed(id_col, qid_col)
    top = _bucket_topk(vsig, qsig, vectors, queries, k, id_col, vec_col, qid_col)
    return top.withColumn("cos", F.round("cos", 6))


def near_dup_pairs(
    vectors: DataFrame, threshold: float = 0.85, num_tables: int = 8,
    bits: int | None = None, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int = 64, n: int | None = None,
    hot_bucket_threshold: int = 2000, salt_groups: int = 16,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    cosine(a, b) >= threshold, found via sign-LSH bucketing — never a
    cross join.  The dedup analog of the reference's query path
    (/root/reference/src/main.cc:115-160: probe buckets, verify exact):
    candidates come from ``operators.candidates.candidate_pairs`` over the
    portable sign buckets — ONE salted shuffle, and a bucket larger than
    ``hot_bucket_threshold`` contributes chained-star edges (O(n), exact
    drop accounting via ``drop_stats``) instead of C(n,2) all-pairs, the
    same skew defense as the image pipeline; the exact cosine verify runs
    only on candidates (star edges below ``threshold`` are dropped — for
    dedup semantics feed the output to connected_components, where the
    star hub keeps a mutual-dup bucket one component).

    Scale: ``bits`` defaults to auto_bits(n), holding expected bucket
    occupancy ~constant as the corpus grows, so candidate count tracks
    true near-duplicate density, not n^2.  Hashing is cross-engine
    portable (Rademacher '+/-' plane literals, sequential-fold double
    dots) so a SQL oracle can reproduce the candidate set bit-exactly —
    PROVIDED no bucket exceeds ``hot_bucket_threshold``: above it the
    engine substitutes chained-star edges for all-pairs (recall preserved
    only through downstream connected components), while a naive SQL twin
    enumerates every same-bucket pair.  auto_bits targets ~8 rows/bucket,
    so gated corpora sit orders of magnitude below the threshold; pass
    ``drop_stats`` and check ``hot_buckets == 0`` to assert it."""
    from .candidates import candidate_pairs
    from .signatures import _widen_narrow_scan

    if bits is None:
        bits = auto_bits(n if n is not None else vectors.count())
    planes = rademacher_planes(ANN_SEED, num_tables, ANN_MAX_BITS, dim)
    # the numpy sign stage parallelizes over input partitions
    vectors = _widen_narrow_scan(vectors)
    # 8-byte keys through the hot path (same discipline as the image
    # pipeline, pipeline.py): signatures, the salted candidate
    # aggregation, and the exact-cosine verify joins all move
    # xxhash64(id) longs; string ids rejoin via the narrow id map at the
    # end, where least/greatest restores id_a < id_b by STRING order —
    # the accept SET is invariant (cosine is symmetric), so the output
    # is bit-identical to the string-keyed plan.  Ids that are ALREADY
    # 8-byte longs skip the hash and the two map-back joins outright
    # (same rule as substring_pairs): the raw ids are the narrow keys,
    # and the accept set is id-independent, so the (min, max) output is
    # unchanged.
    hash_ids = dict(vectors.dtypes)[id_col] == "string"
    if hash_ids:
        idmap = vectors.select(F.xxhash64(id_col).alias("_h"), id_col)
        slim = vectors.select(
            F.xxhash64(id_col).alias(id_col), F.col(vec_col)
        )
    else:
        slim = vectors.select(id_col, vec_col)
    sig = portable_signatures(slim, planes, bits, id_col, vec_col, dim)
    cands = candidate_pairs(
        sig, id_col=id_col, bucket_cols=("table_idx", "bucket"),
        hot_bucket_threshold=hot_bucket_threshold, salt_groups=salt_groups,
        drop_stats=drop_stats,
    ).select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))

    accepted = (
        cosine_scores(
            cands, "id_a", "id_b", vec_col,
            slim.withColumnRenamed(id_col, "id_a"),
            slim.withColumnRenamed(id_col, "id_b"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )
    if not hash_ids:
        return accepted.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    map_a = idmap.select(F.col("_h").alias("id_a"), F.col(id_col).alias("_sa"))
    map_b = idmap.select(F.col("_h").alias("id_b"), F.col(id_col).alias("_sb"))
    return (
        accepted.join(map_a, "id_a").join(map_b, "id_b")
        .select(
            F.least("_sa", "_sb").alias("id_a"),
            F.greatest("_sa", "_sb").alias("id_b"),
        )
    )
