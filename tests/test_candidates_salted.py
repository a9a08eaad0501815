"""Salted candidate-pair generation: exactness for cold buckets, bounded
star output + connectivity + drop accounting for hot buckets, partition
invariance."""

from itertools import combinations

import pyspark.sql.functions as F
import pytest

from lsh_project_spark.operators.candidates import candidate_pairs


def _sigs(spark, rows, partitions=4):
    df = spark.createDataFrame(rows, "table_idx int, bucket long, member long")
    return df.repartition(partitions)


def _expected_all_pairs(rows):
    buckets = {}
    for t, b, m in rows:
        buckets.setdefault((t, b), []).append(m)
    out = set()
    for members in buckets.values():
        for x, y in combinations(sorted(set(members)), 2):
            out.add((x, y))
    return out


def _components(pairs, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {n: find(n) for n in nodes}


def test_cold_buckets_exact_all_pairs(spark):
    rows = [(0, b, m) for b in range(20) for m in range(b * 100, b * 100 + b % 7 + 2)]
    rows += [(1, 5, 42), (1, 5, 17), (1, 5, 99)]
    got = {
        (r["a"], r["b"])
        for r in candidate_pairs(_sigs(spark, rows), id_col="member",
                                 hot_bucket_threshold=50).collect()
    }
    assert got == _expected_all_pairs(rows)


def test_hot_bucket_star_keeps_component_and_counts_drops(spark):
    members = list(range(1000, 1060))  # one hot bucket, 60 members
    rows = [(0, 7, m) for m in members]
    stats: dict = {}
    pairs = {
        (r["a"], r["b"])
        for r in candidate_pairs(
            _sigs(spark, rows), id_col="member", hot_bucket_threshold=10,
            salt_groups=4, drop_stats=stats,
        ).collect()
    }
    # linear output, not O(n^2)
    assert len(pairs) < 3 * len(members)
    # all members end in ONE component through the chained star
    comp = _components(pairs, members)
    assert len(set(comp.values())) == 1
    row = stats["df"].collect()[0]
    assert row["hot_buckets"] == 1
    # exactly n-1 edges are emitted per hot bucket (n-g member-star +
    # g-1 chain), so dropped is exactly C(n,2) - (n-1)
    full = len(members) * (len(members) - 1) // 2
    assert row["pairs_dropped"] == full - (len(members) - 1)
    assert len(pairs) == len(members) - 1
    assert row["max_bucket"] == len(members)


def test_mixed_hot_bucket_true_pair_recovered_via_other_table(spark):
    # table 0: x and y buried in a hot bucket with 58 strangers;
    # table 1: x and y alone in a cold bucket -> the pair must survive
    x, y = 5000, 6000
    rows = [(0, 3, m) for m in [x, y] + list(range(58))]
    rows += [(1, 11, x), (1, 11, y)]
    pairs = {
        (r["a"], r["b"])
        for r in candidate_pairs(_sigs(spark, rows), id_col="member",
                                 hot_bucket_threshold=10).collect()
    }
    assert (x, y) in pairs


def test_partition_invariance(spark):
    rows = [(t, (m * 7 + t) % 13, m) for t in range(3) for m in range(200)]
    a = {
        (r["a"], r["b"])
        for r in candidate_pairs(_sigs(spark, rows, 2), id_col="member",
                                 hot_bucket_threshold=25).collect()
    }
    b = {
        (r["a"], r["b"])
        for r in candidate_pairs(_sigs(spark, rows, 16), id_col="member",
                                 hot_bucket_threshold=25).collect()
    }
    assert a == b


def test_threshold_guard(spark):
    with pytest.raises(ValueError):
        candidate_pairs(
            _sigs(spark, [(0, 0, 1)]), id_col="member", hot_bucket_threshold=100000
        )


def _brute_force(rows, T, min_shared):
    """Reference semantics, row by row: cold buckets vote every pair (a
    pair needs ``min_shared`` votes), hot buckets contribute only their
    exact n - 1 chained-star edges, which always pass and connect the
    bucket; drop totals follow."""
    buckets = {}
    for t, b, m in rows:
        buckets.setdefault((t, b), []).append(m)
    votes, hot_sizes = {}, []
    for members in buckets.values():
        if len(members) > T:
            hot_sizes.append(len(members))
            continue
        for x, y in combinations(members, 2):
            if x != y:
                key = (min(x, y), max(x, y))
                votes[key] = votes.get(key, 0) + 1
    cold = {p for p, v in votes.items() if v >= min_shared}
    dropped = sum(n * (n - 1) // 2 - (n - 1) for n in hot_sizes)
    return cold, buckets, hot_sizes, dropped


def test_mixed_hot_cold_min_shared_matches_brute_force(spark):
    # cold buckets of 2-6 members with shared pairs across tables, plus two
    # hot buckets; min_shared_buckets=2 keeps a cold pair only when two
    # buckets enumerate it, while every hot edge passes
    rows = []
    for t in range(3):
        for b in range(25):
            rows += [(t, b, 10 * b + j) for j in range(2 + (b + t) % 5)]
    rows += [(0, 900, m) for m in range(1000, 1040)]
    rows += [(1, 901, m) for m in range(2000, 2030)] + [(1, 901, 5), (1, 901, 6)]
    T = 8
    cold, buckets, hot_sizes, dropped = _brute_force(rows, T, 2)
    stats: dict = {}
    got = {
        (r["a"], r["b"])
        for r in candidate_pairs(
            _sigs(spark, rows), id_col="member", hot_bucket_threshold=T,
            drop_stats=stats, min_shared_buckets=2,
        ).collect()
    }
    assert cold <= got
    # beyond the cold pairs, each hot bucket adds exactly n - 1 edges
    # between its own members, which keep it one component
    hot_edges = got - cold
    n_inside = 0
    for key in ((0, 900), (1, 901)):
        members = set(buckets[key])
        inside = {(a, b) for a, b in hot_edges if a in members and b in members}
        assert len(inside) == len(members) - 1
        assert len(set(_components(inside, members).values())) == 1
        n_inside += len(inside)
    assert n_inside == len(hot_edges)
    row = stats["df"].collect()[0]
    assert row["hot_buckets"] == len(hot_sizes)
    assert row["pairs_dropped"] == dropped
    assert row["max_bucket"] == max(hot_sizes)


def test_building_candidate_pairs_runs_no_job(spark):
    rows = [(t, m % 11, m) for t in range(2) for m in range(120)]
    sigs = _sigs(spark, rows)
    sigs.count()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    stats: dict = {}
    candidate_pairs(
        sigs, id_col="member", hot_bucket_threshold=5, drop_stats=stats,
        min_shared_buckets=2,
    )
    # the tracker forgets old jobs, so compare only what is new
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
