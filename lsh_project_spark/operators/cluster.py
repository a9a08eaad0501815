"""Connected components over the verified-pair edge list.

No reference analog (the reference returns top-1 neighbors, not clusters);
mandated by the dedup graft.  Implements the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14) as a driver-side loop of DataFrame exchanges:

  large-star: symmetrize; per node u with neighbors N(u),
              m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u.
  small-star: direct each edge from larger to smaller endpoint; per node u
              with smaller-neighbors N-(u), m = min(N-(u) ∪ {u});
              emit (v, m) for v in N-(u) ∪ {u}, v != m.

Each phase is one groupBy-min + one join; ``localCheckpoint`` cuts lineage
every round (Catalyst cannot express iteration — SURVEY.md §4).  Converges
when the edge set reaches a fixpoint (a forest of depth-1 stars); expected
O(log^2 n) rounds.  cluster_id = min node id in the component.  Node ids
may be strings or longs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


# Each star phase is ONE window shuffle (partitionBy the star center: the
# per-group min and the per-row emit come out of the same sort), not the
# groupBy-min + join-back + dedup chain of rounds 1-3 — per-round shuffle
# count drops from ~6 to 3, which is most of the round's wall at 10M+ edge
# scale.  Duplicate rows are allowed to flow within a round (they change no
# min) and are dropped ONCE at the end of _small_star.


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    w = Window.partitionBy("a")
    return (
        sym.withColumn("m", F.least(F.min("b").over(w), F.col("a")))
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    directed = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    w = Window.partitionBy("a")
    d2 = directed.withColumn("m", F.min("b").over(w))  # min(N-(u)) <= every b < u
    return (
        d2.select(F.col("b").alias("v"), "m")
        .unionByName(d2.select(F.col("a").alias("v"), "m"))
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .dropDuplicates(["a", "b"])
    )


# below this edge count the component graph is driver-trivial: collect it,
# union-find in memory (ms), and skip the O(log^2 n)-round distributed loop
# whose per-round job latency would dominate.  5M edges ~= 80 MB collected;
# beyond that the large-star/small-star loop takes over (the 100 TB path).
DRIVER_CC_MAX_EDGES = 5_000_000


def numpy_components(ea: "np.ndarray", eb: "np.ndarray", n: int):
    """Vectorized min-label propagation with pointer jumping (the in-memory
    twin of Shiloach-Vishkin): labels[i] starts as i; each round pushes the
    min label across every edge at once (ufunc ``minimum.at``) then fully
    compresses by repeated composition ``labels[labels]``.  Min labels
    double their reach per round -> O(log n) rounds, each O(m) vectorized —
    replacing the round-3 per-edge Python loop (tens of seconds at the
    5M-edge ceiling) with ~100x-faster array passes.  At the fixpoint every
    node's label is its component's minimum index."""
    import numpy as np

    labels = np.arange(n, dtype=np.int64)
    while True:
        mn = np.minimum(labels[ea], labels[eb])
        new = labels.copy()
        np.minimum.at(new, ea, mn)
        np.minimum.at(new, eb, mn)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, labels):
            return labels
        labels = new


def _driver_union_find(
    edges: DataFrame, pdf: "pd.DataFrame | None" = None
) -> DataFrame:
    """One collect + vectorized numpy component labeling (see
    numpy_components).  Pass ``pdf`` when the caller already collected the
    edge list (the fast-path decision fetch) to skip a second job."""
    import numpy as np
    import pandas as pd

    if pdf is None:
        pdf = edges.select("a", "b").toPandas()
    id_type = dict(edges.dtypes)["a"]
    if len(pdf) == 0:
        return edges.sparkSession.createDataFrame(
            [], schema=f"id {id_type}, cluster_id {id_type}"
        )
    uniq, inv = np.unique(
        pd.concat([pdf["a"], pdf["b"]]).to_numpy(), return_inverse=True
    )
    m = len(pdf)
    labels = numpy_components(inv[:m], inv[m:], len(uniq))
    # cluster_id = min node id per component: uniq is sorted ascending, so
    # the fixpoint label (min component index) indexes the min member
    out = pd.DataFrame({"id": uniq, "cluster_id": uniq[labels]})
    return edges.sparkSession.createDataFrame(
        out, schema=f"id {id_type}, cluster_id {id_type}"
    )


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _contract_local(edges: DataFrame, partitions: int | None = None) -> DataFrame:
    """Partition-local edge contraction (mapPartitions union-find): one
    repartition by ``a`` collocates each node's out-edges, a vectorized
    in-memory union-find (numpy_components) collapses every partition-local
    component to its min node, and the output carries BOTH facts the global
    phase needs, tagged by ``kind``:

      kind 0: (node, local_root)   — the per-partition mapping
      kind 1: (root_a, root_b)     — contracted edges (distinct, a < b)

    Candidate-pair edge lists are stars + small cliques around hub nodes
    (operators/candidates.py), so collocating by ``a`` contracts most of a
    cluster's edges in this single pass — the following large-star/
    small-star loop then iterates on a graph ~an order of magnitude
    smaller, making the distributed CC shuffle-bound rather than
    round-latency-bound (the round-3 scaling residual)."""
    import numpy as np
    import pandas as pd

    id_type = dict(edges.dtypes)["a"]

    def run(batches):
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if not len(pdf):
            return
        arr = pd.concat([pdf["a"], pdf["b"]]).to_numpy()
        uniq, inv = np.unique(arr, return_inverse=True)
        m = len(pdf)
        labels = numpy_components(inv[:m], inv[m:], len(uniq))
        roots = uniq[labels]
        ra, rb = roots[inv[:m]], roots[inv[m:]]
        cross = ra != rb
        ca, cb = ra[cross], rb[cross]
        lo, hi = np.minimum(ca, cb), np.maximum(ca, cb)
        ce = pd.DataFrame({"x": lo, "y": hi}).drop_duplicates()
        yield pd.concat(
            [
                pd.DataFrame(
                    {"kind": np.int32(0), "x": uniq, "y": roots}
                ),
                pd.DataFrame(
                    {"kind": np.int32(1), "x": ce["x"], "y": ce["y"]}
                ),
            ],
            ignore_index=True,
        )

    # partition count is a property of the DATA (per-task union-find memory
    # ~ edges/partitions), not of the core count — a constant default keeps
    # the total work identical across cluster sizes (scaling-evidence
    # hygiene) and a real deployment passes a count sized to its edge
    # volume.  Never below the cluster's parallelism.
    spark = edges.sparkSession
    n_part = partitions or max(64, spark.sparkContext.defaultParallelism * 2)
    part = edges.repartition(n_part, "a")
    return part.mapInPandas(
        run, schema=f"kind int, x {id_type}, y {id_type}"
    )


def connected_components(
    edges: DataFrame, max_iter: int = 50,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
    contract: bool = True,
) -> DataFrame:
    """(a, b) undirected edge list -> (id, cluster_id) for every non-isolated
    node.  Union the full node set downstream if singletons matter.

    Graphs at or below ``driver_max_edges`` resolve with an in-memory
    union-find on the driver (one collect, milliseconds); larger graphs run
    a partition-local edge-contraction pre-pass (``contract=True``,
    _contract_local) followed by the distributed large-star/small-star
    loop on the contracted graph.  Pass driver_max_edges=0 to force the
    distributed path."""
    # Lineage cut per round (Catalyst cannot express iteration):
    # - with a checkpoint dir set (sc.setCheckpointDir), use RELIABLE
    #   checkpoints — survive executor loss, the right mode on a real
    #   cluster where localCheckpoint blocks are lost with their executor;
    # - otherwise executor-local checkpoints (sandbox/local mode).
    # Non-eager either way: the checksum aggregate both materializes the
    # round's checkpoint AND returns the convergence stats — one job/round.
    spark = edges.sparkSession
    reliable = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()

    def _cut(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=False) if reliable else df.localCheckpoint(
            eager=False
        )

    raw = edges.select("a", "b").filter(F.col("a") != F.col("b"))
    if driver_max_edges > 0:
        # ONE job decides AND fetches: limit(max+1).toPandas() returns the
        # complete raw edge list when it fits (the round-6 shape paid a
        # separate count pass first); _driver_union_find's np.unique
        # handles duplicate edges natively.  At max+1 rows the graph is
        # too big — fall through to the distributed loop.
        head = raw.limit(driver_max_edges + 1).toPandas()
        if len(head) <= driver_max_edges:
            return _driver_union_find(raw, pdf=head)

    mapping = None
    if contract:
        # partition-local contraction consumes the RAW edge list — its
        # in-partition union-find absorbs duplicate edges for free, so the
        # full-width dedup shuffle + checksum pass over the original edges
        # is skipped entirely (one less pass over the biggest dataset)
        combined = _cut(_contract_local(raw))
        mapping = combined.filter("kind = 0").select(
            F.col("x").alias("id"), F.col("y").alias("root")
        )
        # a node seen in several partitions has several local roots; bridge
        # them (root star per node) so the contracted graph preserves
        # cross-partition connectivity
        w = Window.partitionBy("id")
        bridge = (
            mapping.select("root", F.min("root").over(w).alias("mr"))
            .filter(F.col("root") != F.col("mr"))
            .select(F.col("mr").alias("a"), F.col("root").alias("b"))
        )
        cur = _cut(
            combined.filter("kind = 1")
            .select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionByName(bridge)
            .dropDuplicates(["a", "b"])
        )
        prev_sum = _edge_checksum(cur)
    else:
        cur = _cut(raw.dropDuplicates(["a", "b"]))
        prev_sum = _edge_checksum(cur)

    for _ in range(max_iter):
        cur = _cut(_small_star(_large_star(cur)))
        cur_sum = _edge_checksum(cur)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # fixpoint is a star forest: edges are (child, root)
    children = cur.select(F.col("a").alias("id"), F.col("b").alias("cluster_id"))
    roots = cur.select(F.col("b").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    result = children.unionByName(roots).dropDuplicates(["id"])
    if mapping is not None:
        # labels were computed on local ROOTS; expand back through the
        # mapping (a root absent from the contracted graph heads a fully
        # partition-local component -> it is its own cluster id, and the
        # component minimum is always a local root, so min-label semantics
        # are preserved end to end)
        rootlab = result.select(F.col("id").alias("root"), "cluster_id")
        result = (
            mapping.join(rootlab, "root", "left")
            .select(
                "id", F.coalesce("cluster_id", "root").alias("cluster_id")
            )
            .dropDuplicates(["id"])
        )
    # materialize (eager checkpoint) while the caller's constraint-propagation
    # guard is still in force: the union over the shared checkpointed subtree
    # must be OPTIMIZED with the conf off, not merely planned — otherwise the
    # UnionBase.rewriteConstraints crash the guard exists for fires at action
    # time in sessions that enable constraint propagation
    return result.checkpoint(eager=True) if reliable else result.localCheckpoint(
        eager=True
    )


def assign_clusters(
    all_ids: DataFrame, edges: DataFrame, id_col: str = "image_id"
) -> DataFrame:
    """Full assignment including singletons: (id_col, cluster_id)."""
    labels = connected_components(edges)
    return (
        all_ids.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("cluster_id", "id").alias("cluster_id"),
        )
    )


def cluster_representatives(
    rows: DataFrame,
    assignments: DataFrame,
    quality_col: str,
    id_col: str = "image_id",
) -> DataFrame:
    """One surviving row per duplicate cluster — the selection stage a
    curation pipeline runs after clustering: keep the member with the
    HIGHEST ``quality_col`` (ties: smallest ``id_col``) and drop the rest.

    No reference analog (the reference stops at top-1 neighbors); this is
    the standard dedup-keeper policy of web-scale corpus pipelines.

    Scale shape: ONE aggregation on cluster_id with map-side partial
    combine — ``min_by`` over the composite order (-quality, id) computes
    the argmin per cluster without a per-cluster sort (a window would
    shuffle AND sort; clusters are bounded but the sort buys nothing).
    Output: (cluster_id, id_col, quality_col) of the keeper, plus
    cluster_size for downstream accounting.
    """
    joined = rows.join(assignments, id_col)
    ordk = F.struct(
        (-F.col(quality_col)).alias("negq"), F.col(id_col).alias("id")
    )
    keeper = F.min_by(F.struct(id_col, quality_col), ordk).alias("k")
    return (
        joined.groupBy("cluster_id")
        .agg(keeper, F.count(F.lit(1)).alias("cluster_size"))
        .select(
            "cluster_id",
            F.col(f"k.{id_col}").alias(id_col),
            F.col(f"k.{quality_col}").alias(quality_col),
            "cluster_size",
        )
    )


def dedup_keep(
    rows: DataFrame,
    assignments: DataFrame,
    quality_col: str,
    id_col: str = "image_id",
) -> DataFrame:
    """The deduplicated corpus itself: ``rows`` filtered to cluster
    representatives (broadcast-free left-semi join on the id — keeper ids
    are one row per cluster, so the join input is already minimal)."""
    keepers = cluster_representatives(
        rows, assignments, quality_col, id_col
    ).select(id_col)
    return rows.join(keepers, id_col, "left_semi")
