"""Portable sign-LSH ANN: plane determinism, auto_bits scaling, candidate
sublinearity, and agreement between the JVM-portable and numpy paths'
bucket semantics."""

import numpy as np
import pytest

from lsh_project_spark.operators.similarity import (
    ANN_MAX_BITS,
    ANN_SEED,
    ann_topk_portable,
    auto_bits,
    portable_signatures,
    rademacher_planes,
)


def test_auto_bits_scales_with_n():
    assert auto_bits(100) == 4
    assert auto_bits(500) == 6
    assert auto_bits(5_000) == 10
    assert auto_bits(5_000_000) == 20
    # bucket occupancy n / 2^bits stays within [4, 8] x target
    for n in (1_000, 10_000, 1_000_000, 10**9):
        occ = n / (1 << auto_bits(n))
        assert 2 <= occ <= 16, (n, occ)


def test_rademacher_planes_deterministic():
    a = rademacher_planes(7, 4, 8, 64)
    b = rademacher_planes(7, 4, 8, 64)
    assert a == b
    assert len(a) == 4 and len(a[0]) == 8 and len(a[0][0]) == 64
    assert set("".join(a[0])) <= {"+", "-"}
    assert rademacher_planes(8, 4, 8, 64) != a


@pytest.fixture(scope="module")
def vec_fixture(spark):
    rng = np.random.Generator(np.random.PCG64(99))
    n, d = 600, 64
    rows = [(i, rng.normal(size=d).astype(float).tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), n, d


def test_portable_signatures_match_numpy(spark, vec_fixture):
    df, n, d = vec_fixture
    bits = 5
    planes = rademacher_planes(ANN_SEED, 3, ANN_MAX_BITS, d)
    got = {
        (r["vec_id"], r["table_idx"]): r["bucket"]
        for r in portable_signatures(df, planes, bits, dim=d).collect()
    }
    rows = df.collect()
    for r in rows[:100]:
        x = np.array(r["embedding"], dtype=np.float64)
        for t in range(3):
            b = 0
            for j in range(bits):
                hp = np.array(
                    [1.0 if c == "+" else -1.0 for c in planes[t][j]]
                )
                if float(np.dot(x, hp)) > 0:
                    b |= 1 << j
            assert got[(r["vec_id"], t)] == b, (r["vec_id"], t)


def test_ann_portable_planted_recall(spark, vec_fixture):
    df, n, d = vec_fixture
    rows = df.collect()
    rng = np.random.Generator(np.random.PCG64(5))
    qs, planted = [], {}
    for i in range(50):
        pi = int(rng.integers(0, n))
        x = np.array(rows[pi]["embedding"], dtype=np.float64)
        x /= np.linalg.norm(x)
        g = rng.normal(size=d); g /= np.linalg.norm(g)
        g -= np.dot(g, x) * x; g /= np.linalg.norm(g)
        q = 0.92 * x + np.sqrt(1 - 0.92**2) * g
        qs.append((1000 + i, q.astype(float).tolist()))
        planted[1000 + i] = rows[pi]["vec_id"]
    qdf = spark.createDataFrame(qs, "query_id long, embedding array<float>")
    res = ann_topk_portable(df, qdf, k=5, num_tables=8).collect()
    hit = {r["query_id"] for r in res if r["neighbor_id"] == planted[r["query_id"]]}
    assert len(hit) / 50 >= 0.9, len(hit) / 50


def test_near_dup_pairs_planted_exact(spark):
    """near_dup_pairs finds exactly the planted twin pairs: the accept set
    equals an independent numpy brute-force cosine>=threshold oracle."""
    from itertools import combinations

    from lsh_project_spark.operators.similarity import near_dup_pairs

    rng = np.random.Generator(np.random.PCG64(1234))
    n, d = 300, 64
    base = rng.normal(size=(n, d))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i].astype(float).tolist()) for i in range(n)]
    # twins: every 6th vector gets a small-perturbation copy at id+10000
    twin_ids = []
    vecs = {i: base[i] for i in range(n)}
    for i in range(0, n, 6):
        tv = base[i] + rng.normal(scale=0.01, size=d)
        rows.append((i + 10_000, tv.astype(float).tolist()))
        vecs[i + 10_000] = tv
        twin_ids.append(i)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {(r["id_a"], r["id_b"])
           for r in near_dup_pairs(df, threshold=0.85, dim=d).collect()}

    # independent oracle: brute-force float64 cosine over all pairs
    want = set()
    for a, b in combinations(sorted(vecs), 2):
        va, vb = vecs[a], vecs[b]
        cos = float(np.dot(va, vb) /
                    (np.linalg.norm(va) * np.linalg.norm(vb)))
        if cos >= 0.85:
            want.add((a, b))
    assert want == {(i, i + 10_000) for i in twin_ids}  # fixture sanity
    assert got == want


def test_near_dup_pairs_keeps_the_id_type(spark):
    """int ids come back as int, not widened to long, and the pair is
    still found."""
    from lsh_project_spark.operators.similarity import near_dup_pairs

    rng = np.random.Generator(np.random.PCG64(7))
    v = rng.normal(size=64)
    rows = [
        (1, v.tolist()),
        (2, (v + rng.normal(scale=0.01, size=64)).tolist()),
        (3, (-v).tolist()),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = near_dup_pairs(df, threshold=0.85, dim=64)
    assert dict(out.dtypes) == {"id_a": "int", "id_b": "int"}
    assert [tuple(r) for r in out.collect()] == [(1, 2)]


def test_near_dup_pairs_no_false_accepts_below_threshold(spark):
    """Random unit vectors (max pairwise cos << threshold) yield no pairs."""
    from lsh_project_spark.operators.similarity import near_dup_pairs

    rng = np.random.Generator(np.random.PCG64(77))
    n, d = 200, 64
    v = rng.normal(size=(n, d))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, v[i].astype(float).tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    assert near_dup_pairs(df, threshold=0.85, dim=d).count() == 0


def test_near_dup_pairs_hot_bucket_star_defense(spark):
    """A degenerate bucket (60 identical vectors) emits O(n) star edges,
    not C(n,2); drop accounting is exact; the bucket stays one connected
    component; and cold pairs are unaffected."""
    from lsh_project_spark.operators.similarity import near_dup_pairs

    rng = np.random.Generator(np.random.PCG64(42))
    d = 64
    hot_v = rng.normal(size=d)
    hot_v /= np.linalg.norm(hot_v)
    rows = [(i, hot_v.astype(float).tolist()) for i in range(60)]
    # one cold planted pair far from the hot cluster
    a = rng.normal(size=d); a /= np.linalg.norm(a)
    rows.append((1000, a.astype(float).tolist()))
    rows.append((1001, (a + rng.normal(scale=0.01, size=d))
                 .astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    stats: dict = {}
    # bits=16 so the two cold vectors can't land in the hot bucket
    # (2^-16/table) — keeps the per-bucket drop count exactly n=60
    pairs = near_dup_pairs(
        df, threshold=0.85, dim=d, bits=16, hot_bucket_threshold=10,
        salt_groups=4, drop_stats=stats,
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # identical vectors: every emitted star edge has cos == 1 >= threshold;
    # hot bucket contributes exactly n-1 = 59 edges per its bucket (same
    # (table,bucket) in all 8 tables dedups to one edge set)
    hot_edges = {(x, y) for (x, y) in got if x < 60 and y < 60}
    assert len(hot_edges) < 60 * 59 / 2  # star, not all-pairs
    # one component: union-find over the emitted edges connects all 60
    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in hot_edges:
        parent[find(x)] = find(y)
    assert len({find(i) for i in range(60)}) == 1
    assert (1000, 1001) in got
    st = stats["df"].collect()[0].asDict()
    assert st["hot_buckets"] >= 1
    # per hot bucket of n members exactly C(n,2)-(n-1) pairs are dropped
    assert st["pairs_dropped"] == st["hot_buckets"] * (60 * 59 // 2 - 59)
