"""Connected-components vs union-find oracle (SURVEY.md §5.2 'e2e: clusters')."""

import numpy as np
import pytest

from lsh_project_spark.operators.cluster import assign_clusters, connected_components
from lsh_project_spark.oracle.cluster import union_find_clusters


def _random_graph(seed, n, m):
    rng = np.random.Generator(np.random.PCG64(seed))
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b]
    return list(range(n)), edges


@pytest.mark.parametrize("seed,n,m", [(1, 50, 30), (2, 200, 150), (3, 500, 700)])
@pytest.mark.parametrize("driver_max", [5_000_000, 0])  # fast path / distributed
def test_cc_matches_union_find(spark, seed, n, m, driver_max):
    nodes, edges = _random_graph(seed, n, m)
    oracle = union_find_clusters(nodes, edges)
    edf = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edf, driver_max_edges=driver_max).collect()
    }
    for node, cid in got.items():
        assert oracle[node] == cid, node


def test_cc_distributed_string_ids_with_contraction(spark):
    """Contraction pre-pass on object (string) ids, distributed path."""
    edges = [("imgB", "imgA"), ("imgC", "imgB"), ("imgX", "imgY"), ("imgD", "imgC")]
    edf = spark.createDataFrame(edges, "a string, b string")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edf, driver_max_edges=0).collect()
    }
    assert got["imgA"] == got["imgB"] == got["imgC"] == got["imgD"] == "imgA"
    assert got["imgX"] == got["imgY"] == "imgX"


def test_cc_both_paths_identical(spark):
    nodes, edges = _random_graph(7, 300, 400)
    edf = spark.createDataFrame(edges, "a long, b long")
    fast = {r["id"]: r["cluster_id"] for r in connected_components(edf).collect()}
    dist = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edf, driver_max_edges=0).collect()
    }
    assert fast == dist


@pytest.mark.parametrize("driver_max", [5_000_000, 0])
def test_cc_chain_graph(spark, driver_max):
    """Worst-case diameter: a long path must still collapse to one root."""
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    edf = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edf, driver_max_edges=driver_max).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == n


def test_cc_raises_when_it_does_not_converge(spark):
    """A 2,000-node path keeps nearly all its nodes through the
    partition-local contraction (its edges hash over >= 64 partitions, so
    few neighbouring edges share one), and one large-star/small-star round
    cannot collapse that long a path; capping the distributed loop at one
    must raise, not return partial labels."""
    edges = [(i, i + 1) for i in range(1999)]
    edf = spark.createDataFrame(edges, "a long, b long")
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edf, driver_max_edges=0, max_iter=1)


def test_cc_string_ids(spark):
    edges = [("imgB", "imgA"), ("imgC", "imgB"), ("imgX", "imgY")]
    edf = spark.createDataFrame(edges, "a string, b string")
    got = {r["id"]: r["cluster_id"] for r in connected_components(edf).collect()}
    assert got["imgA"] == got["imgB"] == got["imgC"] == "imgA"
    assert got["imgX"] == got["imgY"] == "imgX"


def test_assign_clusters_singletons(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "image_id string")
    edges = spark.createDataFrame([("b", "c")], "a string, b string")
    got = {
        r["image_id"]: r["cluster_id"]
        for r in assign_clusters(ids, edges).collect()
    }
    assert got == {"a": "a", "b": "b", "c": "b"}


def test_cc_contraction_edge_cases(spark):
    """Fully-local graphs (contraction empties the star loop), duplicate +
    reversed raw edges, and empty inputs all label correctly through the
    distributed path."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "a long, b long"
    ).coalesce(1)
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(e, driver_max_edges=0).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}

    e2 = spark.createDataFrame([(5, 6), (6, 5), (5, 6), (7, 8)], "a long, b long")
    got2 = {
        r["id"]: r["cluster_id"]
        for r in connected_components(e2, driver_max_edges=0).collect()
    }
    assert got2 == {5: 5, 6: 5, 7: 7, 8: 7}

    e3 = spark.createDataFrame([], "a long, b long")
    assert connected_components(e3, driver_max_edges=0).count() == 0
    assert connected_components(e3).count() == 0


def test_cluster_representatives_policy_and_keep(spark):
    """Keeper = highest quality, tie smallest id; dedup_keep returns the
    corpus filtered to keepers (singletons keep themselves)."""
    from lsh_project_spark.operators.cluster import (
        cluster_representatives,
        dedup_keep,
    )

    rows = spark.createDataFrame(
        [  # cluster 1: c wins on quality; cluster 2: tie -> min id wins
            ("a", 3), ("b", 5), ("c", 9),
            ("x", 7), ("y", 7),
            ("solo", 1),
        ],
        "image_id string, q long",
    )
    asg = spark.createDataFrame(
        [("a", "1"), ("b", "1"), ("c", "1"),
         ("x", "2"), ("y", "2"), ("solo", "3")],
        "image_id string, cluster_id string",
    )
    reps = {
        (r["cluster_id"], r["image_id"], r["q"], r["cluster_size"])
        for r in cluster_representatives(rows, asg, "q").collect()
    }
    assert reps == {("1", "c", 9, 3), ("2", "x", 7, 2), ("3", "solo", 1, 1)}

    kept = {r["image_id"] for r in dedup_keep(rows, asg, "q").collect()}
    assert kept == {"c", "x", "solo"}
