"""``knn.cp_nearest_neighbor`` — one pass over the data probing a broadcast
query index — against a numpy brute-force reference of the same answer:
the candidates of a query are the data rows that share any probed
(table, bucket) with it, the max float64 score wins and the smallest id
breaks ties.  Plus its plan shape and its query-set bound."""

import numpy as np
import pytest

from lsh_project_spark.config import CrossPolytopeConfig
from lsh_project_spark.operators.knn import cp_nearest_neighbor
from lsh_project_spark.oracle.lsh_core import cp_bucket_keys, cp_multiprobe_keys
from lsh_project_spark.params import fold_rotations_2d

D = 16
CFG = CrossPolytopeConfig(dim=D, k=2, num_tables=3)
ROT2D = fold_rotations_2d(CFG)


def unit_rows(rng, n):
    x = rng.normal(size=(n, D)).astype(np.float32)
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def reference_nn(ids, X, qids, Q, probes):
    """qid -> nearest id, by exhaustive bucket comparison."""
    L, k = CFG.num_tables, CFG.k
    dkeys = cp_bucket_keys(X, ROT2D, L, k)  # [n, L]
    qkeys = cp_multiprobe_keys(Q, ROT2D, L, k, probes)  # [P, q, L]
    out = {}
    for i, qid in enumerate(qids):
        hit = (dkeys[None] == qkeys[:, i, None, :]).any(axis=(0, 2))
        cand = np.flatnonzero(hit)
        if not len(cand):
            continue
        q = np.broadcast_to(Q[i].astype(np.float64), (len(cand), D))
        s = np.einsum("bd,bd->b", X[cand].astype(np.float64), q)
        out[qid] = min(ids[c] for c in cand[s == s.max()])
    return out


@pytest.fixture(scope="module")
def vectors():
    """300 data rows plus 30 exact duplicates under SMALLER ids (so the
    tie rule decides), noisy-copy queries, and one query that shares no
    bucket with any row even at 3 probes."""
    rng = np.random.Generator(np.random.PCG64(20261020))
    base = unit_rows(rng, 300)
    X = np.vstack([base, base[:30]])
    ids = np.concatenate([np.arange(300) * 2 + 100, np.arange(30) * 2 + 100 - 1])
    Q = unit_rows(rng, 80)
    Q[:60] = base[rng.integers(0, 300, 60)] + 0.3 * Q[:60]
    Q[60:70] = base[:10]  # exact duplicates of duplicated rows: ties
    dkeys = cp_bucket_keys(X, ROT2D, CFG.num_tables, CFG.k)
    for _ in range(10_000):
        lonely = unit_rows(rng, 1)
        qk = cp_multiprobe_keys(lonely, ROT2D, CFG.num_tables, CFG.k, 3)[:, 0]
        if not (dkeys[None] == qk[:, None, :]).any():
            break
    Q[79] = lonely[0]
    qids = np.arange(80) * 3 + 7
    return ids, X, qids, Q


def frames(spark, ids, X, qids, Q, id_type="long"):
    data = spark.createDataFrame(
        [(i, x.tolist()) for i, x in zip(ids.tolist(), X)],
        f"id {id_type}, features array<float>",
    )
    queries = spark.createDataFrame(
        [(i, q.tolist()) for i, q in zip(qids.tolist(), Q)],
        f"qid {id_type}, features array<float>",
    )
    return data, queries


@pytest.mark.parametrize("probes", [1, 3])
def test_matches_brute_force_reference(spark, vectors, probes):
    ids, X, qids, Q = vectors
    data, queries = frames(spark, ids, X, qids, Q)
    got = {
        r["qid"]: r["nn_id"]
        for r in cp_nearest_neighbor(data, queries, CFG, probes=probes).collect()
    }
    expect = reference_nn(ids, X, qids, Q, probes)
    assert got == expect
    assert qids[79] not in got  # no shared bucket: no row, never a guess
    # the duplicated rows answer with their smaller duplicate id
    assert all(got[qids[60 + i]] == ids[300 + i] for i in range(10))


def test_string_ids_keep_their_types(spark, vectors):
    ids, X, qids, Q = vectors
    sids = np.array([f"d{i:05d}" for i in ids], dtype=object)
    sqids = np.array([f"q{i:05d}" for i in qids], dtype=object)
    data, queries = frames(spark, sids, X, sqids, Q, id_type="string")
    res = cp_nearest_neighbor(data, queries, CFG, probes=3)
    assert res.dtypes == [("qid", "string"), ("nn_id", "string")]
    got = {r["qid"]: r["nn_id"] for r in res.collect()}
    assert got == reference_nn(sids, X, sqids, Q, 3)


def test_empty_data_side(spark, vectors):
    ids, X, qids, Q = vectors
    data, queries = frames(spark, ids[:0], X[:0], qids, Q)
    res = cp_nearest_neighbor(data, queries, CFG)
    assert res.dtypes == [("qid", "bigint"), ("nn_id", "bigint")]
    assert res.count() == 0


def test_plan_scans_data_once_and_shuffles_only_the_answer(spark, vectors, tmp_path):
    """One pass: the data relation is scanned once, nothing broadcasts data
    vectors through a BroadcastExchange, and the only Exchange is the
    final groupBy(qid)."""
    ids, X, qids, Q = vectors
    data, queries = frames(spark, ids, X, qids, Q)
    data.write.parquet(str(tmp_path / "data"))
    queries.write.parquet(str(tmp_path / "queries"))
    res = cp_nearest_neighbor(
        spark.read.parquet(str(tmp_path / "data")),
        spark.read.parquet(str(tmp_path / "queries")),
        CFG,
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1 and "/data]" in scans[0], plan
    assert "BroadcastExchange" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "hashpartitioning(qid" in exchanges[0], plan


def test_query_bound_is_the_broadcast_threshold(spark, vectors):
    """80 queries at d=16, L=3 need 80 x 120 bytes; a 4 KB threshold holds
    34 of them."""
    ids, X, qids, Q = vectors
    data, queries = frames(spark, ids, X, qids, Q)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        with pytest.raises(ValueError, match="autoBroadcastJoinThreshold"):
            cp_nearest_neighbor(data, queries, CFG)
    finally:
        spark.conf.set(key, old)
    assert cp_nearest_neighbor(data, queries, CFG).count() > 0
