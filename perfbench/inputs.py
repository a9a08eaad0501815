"""Seeded benchmark inputs, generated once per (workload, size, seed) with
the engine's own fixture generators and cached as Parquet under the work
directory.  The engine only ever reads these files; nothing about the seed
reaches it.
"""

from __future__ import annotations

import os
import shutil

# the first rows (doc_id, text) of the sf0.1 `documents` test table, the
# table bench.py tiles; shipped here because a benchmark run reads only
# inside its checkout
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents.parquet")


def _cached(path: str, build) -> str:
    """Build `path` once: write to a temporary sibling, then rename, so an
    interrupted run never leaves a half-written cache entry."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.replace(tmp, path)
    return path


def tiled_images(spark, work: str, seed: int, n_docs: int) -> str:
    """`sources.fixtures.images_from_documents(seed=seed, tiles=10)` over
    the first `n_docs` documents: 10 * (n_docs + ceil(n_docs / 3)) rows with
    string ids and the planted `true_cluster_id`; image bytes dropped.  The
    seed changes the pixels, phashes and tile caption perturbations."""
    from lsh_project_spark.sources.fixtures import images_from_documents

    def build(tmp: str) -> None:
        docs = spark.read.parquet(DOCUMENTS).filter(f"doc_id < {n_docs}")
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        images_from_documents(docs, seed=seed, tiles=10).drop("bytes").write.parquet(tmp)

    return _cached(os.path.join(work, f"tiled_d{n_docs}_s{seed}.parquet"), build)


def unit_vectors(spark, work: str, seed: int, n: int, q: int, d: int) -> dict[str, str]:
    """The reference's data model from `sources.vectors`: n unit vectors,
    q noisy queries and each query's exact nearest neighbour (the recall
    reference), all keyed on `seed`.  Each table is read back from Parquet
    before the next is derived from it, so none is generated twice."""
    from lsh_project_spark.sources.vectors import (
        brute_force_truth,
        noisy_queries,
        random_unit_vectors,
    )

    base = os.path.join(work, f"vectors_n{n}_q{q}_d{d}_s{seed}")
    paths = {k: f"{base}/{k}.parquet" for k in ("data", "queries", "truth")}

    def build(tmp: str) -> None:
        random_unit_vectors(spark, n, d, seed=seed).write.parquet(f"{tmp}/data.parquet")
        data = spark.read.parquet(f"{tmp}/data.parquet")
        noisy_queries(spark, data, q, d, n, seed=seed).write.parquet(
            f"{tmp}/queries.parquet"
        )
        queries = spark.read.parquet(f"{tmp}/queries.parquet")
        brute_force_truth(queries, data).write.parquet(f"{tmp}/truth.parquet")

    _cached(base, build)
    return paths
