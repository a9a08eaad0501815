"""IVF-Flat ANN: fit determinism, full-probe == brute force, recall at
partial probe, and plan-shape invariants (assignment is a projection; the
probe side broadcasts)."""

import duckdb
import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from lsh_project_spark.operators import ivf
from lsh_project_spark.operators.ivf import (
    _ivf_scores_np,
    ivf_assign,
    ivf_fit,
    ivf_fit_centroids,
    ivf_topk,
)
from lsh_project_spark.operators.similarity import brute_force_topk


def _emb_df(spark, n=400, dim=16, seed=7):
    rng = np.random.Generator(np.random.PCG64(seed))
    X = rng.normal(size=(n, dim)).astype(np.float32)
    rows = [(i, X[i].tolist()) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ), X


def test_ivf_fit_deterministic_and_quantized():
    rng = np.random.Generator(np.random.PCG64(3))
    X = rng.normal(size=(300, 8))
    a = ivf_fit(X, n_lists=8, iters=5)
    b = ivf_fit(X.copy(), n_lists=8, iters=5)
    assert np.array_equal(a, b)
    assert np.array_equal(a, np.round(a, 6))  # literal-exact quantization
    assert a.shape == (8, 8)


def test_ivf_fit_rejects_tiny_sample():
    with pytest.raises(ValueError, match="cannot seed"):
        ivf_fit(np.zeros((3, 4)), n_lists=8)


def test_spark_fit_matches_numpy_fit(spark):
    """ivf_fit_centroids at stride 1 (n <= cap) must equal the pure-numpy
    fit over the id-sorted table — the property the gate's oracle relies
    on."""
    df, X = _emb_df(spark, n=200, dim=8)
    got = ivf_fit_centroids(df, n_lists=8, iters=4, sample_cap=1000)
    want = ivf_fit(X.astype(np.float64), n_lists=8, iters=4)
    assert np.array_equal(got, want)


def test_full_probe_equals_brute_force(spark):
    """nprobe == n_lists searches every list, so IVF must reproduce the
    exact cosine top-k (same tie rules) — the correctness anchor."""
    df, _ = _emb_df(spark, n=300, dim=16)
    cents = ivf_fit_centroids(df, n_lists=8, iters=4)
    q = df.filter("vec_id % 60 = 0").withColumnRenamed("vec_id", "query_id")
    ivf = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(df, q, cents, k=5, nprobe=8).collect()
    }
    bf = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_topk(df, q, k=5)
        .filter("query_id != neighbor_id")
        .select("query_id", "rank", "neighbor_id")
        .collect()
    }
    assert ivf == bf


def test_partial_probe_recall(spark):
    """At nprobe = n_lists/4, recall@5 vs brute force stays useful (> 0.5
    on isotropic Gaussian data — the hard case for IVF; clustered real
    corpora do better)."""
    df, _ = _emb_df(spark, n=400, dim=16)
    cents = ivf_fit_centroids(df, n_lists=8, iters=6)
    q = df.filter("vec_id % 40 = 0").withColumnRenamed("vec_id", "query_id")
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(df, q, cents, k=5, nprobe=2).collect()
    }
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, q, k=5)
        .filter("query_id != neighbor_id")
        .select("query_id", "neighbor_id")
        .collect()
    }
    assert len(ivf & bf) / len(bf) > 0.5


def test_assignment_is_projection_and_probes_broadcast(spark):
    df, _ = _emb_df(spark, n=100, dim=8)
    cents = ivf_fit_centroids(df, n_lists=4, iters=2)
    aplan = (
        ivf_assign(df, cents)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in aplan  # nearest-list assignment never shuffles
    q = df.filter("vec_id < 3").withColumnRenamed("vec_id", "query_id")
    tplan = (
        ivf_topk(df, q, cents, k=3, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in tplan  # corpus never shuffles for probing


def test_blocked_scores_match_the_duckdb_oracle(monkeypatch):
    """_ivf_scores_np in 5-row blocks gives the same doubles as one block
    and as the oracle's c2 - 2.0 * list_dot_product(v, c), on rows on both
    sides of every block boundary."""
    rng = np.random.Generator(np.random.PCG64(11))
    X = rng.normal(size=(37, 8)).astype(np.float32)
    cents = np.round(rng.normal(size=(4, 8)), 6)
    whole = _ivf_scores_np(X.astype(np.float64), cents)
    monkeypatch.setattr(ivf, "_SCORE_BLOCK_ELEMS", 5 * cents.size + 7)
    blocked = _ivf_scores_np(X.astype(np.float64), cents)

    con = duckdb.connect()
    con.register("embeddings", pa.table({
        "vec_id": np.arange(len(X)),
        "embedding": pa.array(list(X), type=pa.list_(pa.float32())),
    }))
    rows = ", ".join(
        "({}, [{}]::DOUBLE[], CAST('{!r}' AS DOUBLE))".format(
            i,
            ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in row),
            float((row * row).sum()),
        )
        for i, row in enumerate(cents)
    )
    scores = con.execute(f"""
        WITH cents(i, c, c2) AS (VALUES {rows})
        SELECT c2 - 2.0 * list_dot_product(embedding::DOUBLE[], c)
        FROM embeddings CROSS JOIN cents ORDER BY vec_id, i
    """).fetchall()
    oracle = np.array([s for (s,) in scores]).reshape(whole.shape)
    assert np.array_equal(blocked, whole)
    assert np.array_equal(blocked, oracle)
