"""The one exact-cosine scorer of the embedding modality: the numpy kernel
against a pure-Python left-to-right fold, and every embedding path on a
corpus holding all-zero vectors (null cosine, ranked last, never paired,
the same ranking as the DuckDB oracle's NULLs)."""

import math
import struct

import duckdb
import numpy as np
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from lsh_project_spark.operators.ivf import ivf_fit_centroids, ivf_topk
from lsh_project_spark.operators.similarity import (
    ann_topk_portable,
    brute_force_topk,
    exact_cosine,
    near_dup_pairs,
)


def _fold_cosine(a: list[float], b: list[float]) -> float:
    """The SQL rendering, one row: three folds from 0.0, then
    dot / (sqrt(aa) * sqrt(bb)); a zero norm gives NaN."""
    dot = aa = bb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        aa += x * x
        bb += y * y
    den = math.sqrt(aa) * math.sqrt(bb)
    return dot / den if den else math.nan


@st.composite
def _row_blocks(draw):
    n = draw(st.integers(1, 6))
    d = draw(st.integers(1, 40))
    elems = st.one_of(
        st.sampled_from([0.0, -0.0]),
        # a bounded range makes summation order visible in the last bit
        st.floats(-(2.0**20), 2.0**20, width=32),
        st.floats(width=32, allow_nan=False, allow_infinity=False),
    )
    a, b = (
        draw(arrays(np.float32, (n, d), elements=elems, fill=st.nothing()))
        for _ in range(2)
    )
    for blk in (a, b):  # whole zero rows, not only zero coordinates
        for i in draw(st.sets(st.integers(0, n - 1))):
            blk[i] = 0.0
    return a, b


@settings(max_examples=300, deadline=None)
@given(_row_blocks())
# every product -0.0: the fold from 0.0 gives +0.0, a bare accumulate -0.0
@example((np.float32([[-0.0, 1.0]]), np.float32([[1.0, -0.0]])))
def test_kernel_equals_the_left_to_right_fold(blocks):
    a, b = blocks
    got = exact_cosine(a, b)
    for i in range(len(a)):
        want = _fold_cosine(a[i].tolist(), b[i].tolist())
        if math.isnan(want):
            assert math.isnan(got[i]), (i, got[i])
        else:  # bit for bit, the sign of a zero included
            assert struct.pack("<d", got[i]) == struct.pack("<d", want), (
                i, got[i], want)


@pytest.fixture(scope="module")
def zero_corpus(spark):
    """120 random 8-dim vectors; 0 and 7 are all zero (0 is also a query
    of the vec_id % 50 = 0 set), and 1001 is a near twin of 3."""
    rng = np.random.Generator(np.random.PCG64(2024))
    X = rng.normal(size=(120, 8)).astype(np.float32)
    X[0] = 0.0
    X[7] = 0.0
    rows = [(i, X[i].tolist()) for i in range(len(X))]
    rows.append((1001, (X[3] + np.float32(0.01)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id % 50 = 0").withColumnRenamed("vec_id", "query_id")
    return df, q, rows


def _triples(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
    )


def test_zero_vectors_rank_last_with_null_cosine(zero_corpus):
    df, q, rows = zero_corpus
    got = brute_force_topk(df, q, k=len(rows)).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert sorted(by_q) == [0, 50, 100]
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rows)))
        if qid == 0:  # every cosine of the zero query is null: id order
            assert all(r["cos"] is None for r in rs)
            assert [r["neighbor_id"] for r in rs] == sorted(
                i for i, _ in rows if i != 0)
        else:  # the two zero vectors come last, after every defined cosine
            assert [r["neighbor_id"] for r in rs[-2:]] == [0, 7]
            assert [r["cos"] for r in rs[-2:]] == [None, None]
            assert all(r["cos"] is not None for r in rs[:-2])


def test_brute_force_matches_the_duckdb_oracle_on_zero_vectors(
    zero_corpus, monkeypatch
):
    from lsh_project_spark.plans import entry_queries

    df, q, rows = zero_corpus
    # the IVF oracle re-fits from the sf0.01 parquet; only the
    # embedding_topk SQL is needed here
    monkeypatch.setattr(entry_queries, "_ivf_oracle_sql", lambda: "")
    sql = entry_queries.oracle_sql()["embedding_topk"]
    con = duckdb.connect()
    con.register("embeddings", pa.table({
        "vec_id": pa.array([i for i, _ in rows], pa.int64()),
        "embedding": pa.array([v for _, v in rows], pa.list_(pa.float32())),
    }))
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    got = _triples(brute_force_topk(df, q, k=5))
    assert got == want
    assert [t[2] for t in got if t[0] == 0] == [1, 2, 3, 4, 5]


def test_ann_portable_and_ivf_rank_zero_vectors_like_brute_force(
    zero_corpus
):
    df, q, rows = zero_corpus
    full = _triples(brute_force_topk(df, q, k=5))
    cents = ivf_fit_centroids(df, n_lists=4, iters=3)
    assert _triples(ivf_topk(df, q, cents, k=5, nprobe=4)) == full

    ann = ann_topk_portable(df, q, k=len(rows), num_tables=8, dim=8).collect()
    by_q: dict = {}
    for r in ann:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"]))
    assert by_q  # rows come back; nothing raises
    for qid, rs in by_q.items():
        ids = [i for _, i in sorted(rs)]
        if qid == 0:
            assert ids == sorted(ids)  # all null: id order
        else:
            zeros = [i for i in ids if i in (0, 7)]
            assert ids[len(ids) - len(zeros):] == zeros  # ranked last


def test_near_dup_pairs_never_pairs_a_zero_vector(zero_corpus):
    df, _, _ = zero_corpus
    pairs = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(df, threshold=0.85, dim=8).collect()
    }
    assert (3, 1001) in pairs
    assert not any({0, 7} & set(p) for p in pairs)
