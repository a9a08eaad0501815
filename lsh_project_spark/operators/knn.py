"""The reference's query path as a DataFrame plan: CP-LSH probe -> exact
verify -> top-1 (SURVEY.md §3.2, /root/reference/src/main.cc:369-408).

Candidates come from an equi-join of query signatures against the data
signature table on (table_idx, bucket); every candidate is verified with
the exact inner product (batched numpy); the answer per query is the
argmax candidate across all tables (max_by with first-index tie-break).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import CrossPolytopeConfig
from ..oracle.lsh_core import concat_hashes, cp_hash
from ..params import fold_rotations_2d
from .signatures import cp_multiprobe_signature_table, cp_signature_table


def cp_nearest_neighbor(
    data: DataFrame, queries: DataFrame, cfg: CrossPolytopeConfig,
    id_col: str = "id", qid_col: str = "qid", vec_col: str = "features",
    probes: int = 1,
) -> DataFrame:
    """(qid, nn_id): approximate NN by cross-polytope LSH + exact re-rank.

    ``probes > 1`` probes that many buckets per (query, table) — the base
    bucket plus the lowest-margin sub-hash swaps (multi-probe LSH): recall
    per table rises without touching the data-side signature table."""
    dsig = cp_signature_table(
        data.select(F.col(id_col), F.col(vec_col)), cfg, id_col=id_col
    )
    qin = queries.select(F.col(qid_col).alias(id_col), F.col(vec_col))
    if probes <= 1:
        qsig = cp_signature_table(qin, cfg, id_col=id_col)
    else:
        qsig = cp_multiprobe_signature_table(qin, cfg, probes, id_col=id_col)
    qsig = qsig.withColumnRenamed(id_col, qid_col)

    cands = (
        qsig.join(dsig, ["table_idx", "bucket"])
        .select(qid_col, id_col)
        .dropDuplicates([qid_col, id_col])
    )
    joined = (
        cands.join(queries.select(qid_col, F.col(vec_col).alias("qv")), qid_col)
        .join(data.select(id_col, F.col(vec_col).alias("dv")), id_col)
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.vstack(pdf["qv"].to_numpy()).astype(np.float64)
            d = np.vstack(pdf["dv"].to_numpy()).astype(np.float64)
            out = pdf[[qid_col, id_col]].copy()
            out["score"] = np.einsum("bd,bd->b", q, d)
            yield out

    qid_type = dict(queries.dtypes)[qid_col]
    id_type = dict(data.dtypes)[id_col]
    scored = joined.mapInPandas(
        score, schema=f"{qid_col} {qid_type}, {id_col} {id_type}, score double"
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
    driver and broadcast (n x d float32 + L hash tables — 2M rows x 128d
    is ~1 GB, the practical ceiling); each query batch then hashes,
    probes, and exact-verifies in numpy at single-node speed with zero
    shuffles.  Above ``max_index_rows`` use ``cp_nearest_neighbor`` (the
    bucket equi-join), which scales to any index size.
    """
    # limit() bounds what ever reaches the driver, so the guard actually
    # prevents the OOM it exists for (collecting first and counting after
    # would defeat it)
    rows = data.select(id_col, vec_col).limit(max_index_rows + 1).collect()
    if len(rows) > max_index_rows:
        raise ValueError(
            f"index exceeds max_index_rows={max_index_rows}; "
            "use cp_nearest_neighbor (join path)"
        )
    ids = np.array([r[id_col] for r in rows])
    X = np.vstack([r[vec_col] for r in rows]).astype(np.float32)
    rot2d = fold_rotations_2d(cfg)
    L, k, d = cfg.num_tables, cfg.k, cfg.dim
    buckets = concat_hashes(cp_hash((X @ rot2d).reshape(len(ids), L, k, d)), d)
    # per-table open hash: bucket -> contiguous [start, end) into a sorted
    # member array (numpy-friendly; no python dict of arrays)
    tables = []
    for t in range(L):
        order = np.argsort(buckets[:, t], kind="stable")
        sb = buckets[order, t]
        uniq, starts = np.unique(sb, return_index=True)
        ends = np.append(starts[1:], len(sb))
        tables.append((uniq, starts, ends, order))
    bc = data.sparkSession.sparkContext.broadcast((ids, X, tables))

    def answer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        l_ids, l_X, l_tables = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.vstack(pdf[vec_col].to_numpy()).astype(np.float32)
            qb = concat_hashes(cp_hash((q @ rot2d).reshape(len(q), L, k, d)), d)
            out_ids: list = [None] * len(q)  # no bucket hit -> null, never a
            for i in range(len(q)):          # fabricated "nearest neighbor"
                cand_chunks = []
                for t in range(L):
                    uniq, starts, ends, order = l_tables[t]
                    j = np.searchsorted(uniq, qb[i, t])
                    if j < len(uniq) and uniq[j] == qb[i, t]:
                        cand_chunks.append(order[starts[j] : ends[j]])
                if cand_chunks:
                    cand = np.unique(np.concatenate(cand_chunks))
                    scores = l_X[cand] @ q[i]
                    # first-max-wins = smallest row index at max score
                    out_ids[i] = l_ids[cand[np.argmax(scores)]].item()
            yield pd.DataFrame(
                {qid_col: pdf[qid_col], "nn_id": pd.Series(out_ids, dtype=object)}
            )

    qid_type = dict(queries.dtypes)[qid_col]
    id_type = dict(data.dtypes)[id_col]
    return queries.select(qid_col, vec_col).mapInPandas(
        answer, schema=f"{qid_col} {qid_type}, nn_id {id_type}"
    )
