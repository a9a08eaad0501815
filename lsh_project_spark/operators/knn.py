"""The reference's query path as a DataFrame plan: CP-LSH probe -> exact
verify -> top-1 (SURVEY.md §3.2, /root/reference/src/main.cc:369-408).

``cp_nearest_neighbor`` streams the data side in ONE pass.  The query
side (ids, vectors, bucket keys) is collected once at build time into a
per-table sorted-key index and broadcast.  One ``mapInPandas`` over the
data then signs each batch, expands its (table, bucket) matches against
the index with ``searchsorted``, dedups the (query, row) pairs and scores
them with the exact inner product, in the stage that already holds the
data vectors.  A groupBy(qid) keeps the best score (smallest id on ties).

``cp_nearest_neighbor_broadcast`` runs the other direction: the data side
is the broadcast index and query batches stream.  Both directions probe
with the same sorted-key expansion (``_bucket_matches``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import CrossPolytopeConfig
from ..oracle.lsh_core import cp_bucket_keys, cp_multiprobe_keys
from ..params import fold_rotations_2d


def _vectors(col: pd.Series, d: int) -> np.ndarray:
    """A column of d-vectors as one [n, d] matrix (vstack rejects n = 0)."""
    return np.vstack(col.to_numpy()) if len(col) else np.empty((0, d), np.float32)


def _sorted_key_index(keys: np.ndarray, members: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-table sorted-key index of bucket keys [m, L] -> (keys sorted
    within each table [L, m], the member each sorted key belongs to
    [L, m]).  Row r of ``keys`` belongs to member r % ``members``, so
    stacked probes [P * members, L] index their own member."""
    order = np.argsort(keys.T, axis=1, kind="stable")
    return np.take_along_axis(keys.T, order, axis=1), order % max(members, 1)


def _bucket_matches(
    index: tuple[np.ndarray, np.ndarray], keys: np.ndarray, members: int
) -> tuple[np.ndarray, np.ndarray]:
    """Every distinct (row of keys [n, L], index member) pair that shares
    a (table, bucket), sorted by row then member."""
    sorted_keys, member = index
    rows, found = [], []
    for t in range(keys.shape[1]):
        lo = np.searchsorted(sorted_keys[t], keys[:, t], "left")
        cnt = np.searchsorted(sorted_keys[t], keys[:, t], "right") - lo
        # the ragged ranges [lo, lo + cnt) laid end to end
        pos = np.arange(cnt.sum()) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
        rows.append(np.repeat(np.arange(len(keys)), cnt))
        found.append(member[t, pos])
    # one pair per (row, member), however many tables it shares
    m = max(members, 1)
    pairs = np.unique(np.concatenate(rows) * m + np.concatenate(found))
    return pairs // m, pairs % m


def _scores(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise float64 inner products of two [n, d] matrices."""
    return np.einsum("bd,bd->b", a.astype(np.float64), b.astype(np.float64))


def cp_nearest_neighbor(
    data: DataFrame, queries: DataFrame, cfg: CrossPolytopeConfig,
    id_col: str = "id", qid_col: str = "qid", vec_col: str = "features",
    probes: int = 1,
) -> DataFrame:
    """(qid, nn_id): approximate NN by cross-polytope LSH + exact re-rank,
    in one pass over ``data``.

    Build time (ROADMAP aim 3): ONE driver job collects the query side, its
    ids and vectors; the driver signs it with the kernels the signers use
    and sorts the keys into one array per table, published with
    ``sc.broadcast``.  ``probes > 1`` probes that many buckets per
    (query, table) — the base bucket plus the lowest-margin sub-hash swaps
    (multi-probe LSH): recall per table rises and the data side is still
    signed once.

    Query-set bound: the query index must fit Spark's own broadcast
    ceiling, ``spark.sql.autoBroadcastJoinThreshold``, at 4 B per vector
    coordinate, 8 B per id and 16 B per (probe, table).  The collect is
    ``limit``-ed to one row over that bound, and a larger query set raises
    ValueError.  The data side streams at any size.

    Plan: one ``mapInPandas`` over ``data`` signs each batch, expands its
    bucket matches against the index with ``searchsorted``, dedups the
    (query, row) pairs and scores each with the float64 inner product; a
    groupBy(qid) keeps the max score, smallest id on ties.  A query that
    shares no bucket with any row gets no output row."""
    spark = data.sparkSession
    rot2d = fold_rotations_2d(cfg)
    L, k, d = cfg.num_tables, cfg.k, cfg.dim
    n_probes = min(max(probes, 1), k + 1)
    ceiling = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    max_queries = max(ceiling, 0) // (4 * d + 8 + 16 * n_probes * L)
    qpdf = queries.select(qid_col, vec_col).limit(max_queries + 1).toPandas()
    if len(qpdf) > max_queries:
        raise ValueError(
            f"more than {max_queries} queries: the query index would exceed "
            f"spark.sql.autoBroadcastJoinThreshold={ceiling} bytes"
        )
    qids = qpdf[qid_col].to_numpy()
    Q = _vectors(qpdf[vec_col], d)
    qkeys = (
        cp_multiprobe_keys(Q, rot2d, L, k, n_probes) if n_probes > 1
        else cp_bucket_keys(Q, rot2d, L, k)[None]
    )
    index = _sorted_key_index(qkeys.reshape(-1, L), len(Q))
    bc = spark.sparkContext.broadcast((qids, Q, index))

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        l_qids, l_Q, l_index = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[vec_col].to_numpy())
            rows, qi = _bucket_matches(
                l_index, cp_bucket_keys(x, rot2d, L, k), len(l_Q)
            )
            yield pd.DataFrame(
                {
                    qid_col: l_qids[qi],
                    id_col: pdf[id_col].to_numpy()[rows],
                    "score": _scores(l_Q[qi], x[rows]),
                }
            )

    qid_type = dict(queries.dtypes)[qid_col]
    id_type = dict(data.dtypes)[id_col]
    scored = data.select(id_col, vec_col).mapInPandas(
        probe, schema=f"{qid_col} {qid_type}, {id_col} {id_type}, score double"
    )
    return scored.groupBy(qid_col).agg(
        F.expr(f"min_by({id_col}, struct(-score, {id_col}))").alias("nn_id")
    )


def cp_nearest_neighbor_broadcast(
    data: DataFrame, queries: DataFrame, cfg: CrossPolytopeConfig,
    id_col: str = "id", qid_col: str = "qid", vec_col: str = "features",
    max_index_rows: int = 2_000_000,
) -> DataFrame:
    """Small-index fast path: the reference's in-memory probe loop
    (/root/reference/src/main.cc:369-408), distributed over QUERY
    partitions.

    The whole (bucket -> members, vectors) index is built once on the
    driver and broadcast (n x d float32 + L sorted key tables — 2M rows x
    128d is ~1 GB, the practical ceiling); each query batch then hashes,
    probes, and exact-verifies in numpy at single-node speed with zero
    shuffles.  Every query gets a row: null when it shares no bucket, else
    the first row (in index order) at the max score.  Above
    ``max_index_rows`` use ``cp_nearest_neighbor``, which streams an index
    of any size.
    """
    # limit() bounds what ever reaches the driver, so the guard actually
    # prevents the OOM it exists for (collecting first and counting after
    # would defeat it)
    rows = data.select(id_col, vec_col).limit(max_index_rows + 1).collect()
    if len(rows) > max_index_rows:
        raise ValueError(
            f"index exceeds max_index_rows={max_index_rows}; "
            "use cp_nearest_neighbor (streams the index)"
        )
    ids = np.array([r[id_col] for r in rows])
    X = np.vstack([r[vec_col] for r in rows]).astype(np.float32)
    rot2d = fold_rotations_2d(cfg)
    L, k = cfg.num_tables, cfg.k
    index = _sorted_key_index(cp_bucket_keys(X, rot2d, L, k), len(ids))
    bc = data.sparkSession.sparkContext.broadcast((ids, X, index))

    def answer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        l_ids, l_X, l_index = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.vstack(pdf[vec_col].to_numpy()).astype(np.float32)
            qi, cand = _bucket_matches(
                l_index, cp_bucket_keys(q, rot2d, L, k), len(l_ids)
            )
            # stable sort on (query, -score) keeps candidates in index
            # order within a score: the first of each query is its
            # first-max-wins answer
            order = np.lexsort((-_scores(q[qi], l_X[cand]), qi))
            qi, cand = qi[order], cand[order]
            first = np.flatnonzero(np.diff(qi, prepend=-1))
            nn = np.full(len(q), None, dtype=object)  # no bucket hit -> null,
            nn[qi[first]] = l_ids[cand[first]]  # never a fabricated neighbour
            yield pd.DataFrame({qid_col: pdf[qid_col], "nn_id": nn})

    qid_type = dict(queries.dtypes)[qid_col]
    id_type = dict(data.dtypes)[id_col]
    return queries.select(qid_col, vec_col).mapInPandas(
        answer, schema=f"{qid_col} {qid_type}, nn_id {id_type}"
    )
