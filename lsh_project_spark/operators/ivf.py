"""IVF (inverted-file) approximate nearest-neighbor search — the
coarse-quantizer scale path for similarity search, complementing the
sign-LSH path (operators/similarity.py).

Shape (classic IVF-Flat, cf. Jégou et al. '11 / FAISS):

1. **Fit** a small codebook of ``n_lists`` centroids with deterministic
   Lloyd iterations on a BOUNDED, hash-selected sample (the quantizer is
   a pretrained artifact, fit once on ~64k rows no matter the corpus
   size — never a corpus-wide iterative job).
2. **Assign** every corpus vector to its nearest centroid in one numpy
   map stage (a projection: NO shuffle; at 100 TB the list id becomes
   the table's bucket/partition column, so probing prunes partitions
   instead of scanning).
3. **Probe**: each query ranks centroids, takes the ``nprobe`` nearest
   lists, and exact-reranks only those lists' members with the shared
   cosine scorer and top-k of operators/similarity.py — per-query cost
   tracks ``nprobe / n_lists`` of the corpus, not n².

Everything is engine-portable: centroids are quantized to 6 decimals
(the oracle renders them as string->double CAST literals), centroid
scores and cosines are sequential left-to-right double folds, and ties
break on the lower index — so a DuckDB oracle reproduces assignments,
probe sets, and final rankings bit-exactly (as for brute_force_topk).

No reference analog (the reference is pure LSH: src/lsh.c); IVF is the
standard alternative scale path the task brief names.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.hashing import spark_hash62
from .similarity import cosine_scores, cosine_topk

IVF_QUANT_DECIMALS = 6


# --------------------------------------------------------------------- fit


def ivf_fit(X: np.ndarray, n_lists: int = 16, iters: int = 8) -> np.ndarray:
    """Deterministic Lloyd k-means in float64: init = evenly spaced rows of
    the (caller-ordered) sample, argmin ties -> lowest centroid index,
    empty lists keep their previous centroid.  Returns centroids quantized
    to IVF_QUANT_DECIMALS so they round-trip exactly through SQL literals
    in every engine."""
    X = np.asarray(X, dtype=np.float64)
    m = X.shape[0]
    if m < n_lists:
        raise ValueError(f"sample of {m} rows cannot seed {n_lists} lists")
    C = X[(np.arange(n_lists) * m) // n_lists].copy()
    for _ in range(iters):
        d2 = (
            (X * X).sum(axis=1, keepdims=True)
            - 2.0 * X @ C.T
            + (C * C).sum(axis=1)
        )
        a = d2.argmin(axis=1)  # ties -> lowest index
        for j in range(n_lists):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return np.round(C, IVF_QUANT_DECIMALS)


def ivf_fit_centroids(
    vectors: DataFrame,
    n_lists: int = 16,
    iters: int = 8,
    sample_cap: int = 65536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> np.ndarray:
    """Fit the codebook from a deterministic hash-selected sample of the
    corpus: keep rows where hash62(id) % ceil(n / cap) == 0 — a pure scan
    + filter (partition-independent, rerun-stable), collecting ~cap rows
    to the driver regardless of corpus size.  Sample order is id-sorted so
    the Lloyd init (and therefore the codebook) is unique for a given
    corpus."""
    if n is None:
        n = vectors.count()
    stride = max(1, -(-n // sample_cap))
    h = spark_hash62(f"cast({id_col} as string)")
    rows = (
        vectors.select(id_col, vec_col)
        .filter(F.expr(f"pmod({h}, {stride}) = 0"))
        .orderBy(id_col)
        .collect()
    )
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    return ivf_fit(X, n_lists=n_lists, iters=iters)


# ------------------------------------------------------------------ search


# cap on the elements of the [rows, n_lists, dim] float64 product/accumulate
# temporaries in _ivf_scores_np (2^21 x 8 B = 16 MB each), so a batch's
# memory does not grow with n_lists x dim (cf. similarity._SIGN_BLOCK)
_SCORE_BLOCK_ELEMS = 1 << 21


def _ivf_scores_np(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """[n, n_lists] rank scores |c|^2 - 2 v.c with the EXACT doubles of the
    DuckDB oracle (duckdb_ivf_topk_sql): per (row, centroid) the dot is a
    strict left-to-right accumulation (np.add.accumulate == the sequential
    list_dot_product fold; products of a float-cast-to-double by a double
    literal round identically), and c2 uses the same numpy row sums that
    function renders as literals — so scores, argmin choices, and tie
    decisions are bit-identical to the oracle.  Rows go in blocks of at
    most _SCORE_BLOCK_ELEMS product elements; each score depends on its
    own row only, so blocking changes no bit."""
    cents = np.asarray(cents, dtype=np.float64)
    c2 = (cents * cents).sum(axis=1)  # duckdb_ivf_topk_sql's c2 literals
    step = max(1, _SCORE_BLOCK_ELEMS // cents.size)
    out = np.empty((len(x), len(cents)), dtype=np.float64)
    for lo in range(0, len(x), step):
        prods = x[lo : lo + step, None, :] * cents[None, :, :]  # [b, L, d]
        dots = np.add.accumulate(prods, axis=2)[:, :, -1]
        out[lo : lo + step] = c2[None, :] - 2.0 * dots
    return out


def ivf_assign(
    vectors: DataFrame, cents: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Corpus side: + list_id column.  At warehouse scale this is the
    write-time bucketing column — probes then prune partitions.

    One numpy map stage instead of the round-6 fold expression: the
    unrolled literal tree (2 copies of an n_lists x dim double array per
    fold step) was re-optimized at every adaptive stage and evaluated
    interpreted per element; numpy computes the same bit-identical scores
    (see _ivf_scores_np) and np.argmin's first-minimum matches the fold's
    strict '<' lowest-index tie rule."""
    from collections.abc import Iterator

    import pandas as pd

    cents = np.asarray(cents, dtype=np.float64)
    cols = vectors.columns

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            li = np.argmin(_ivf_scores_np(x, cents), axis=1).astype(np.int32)
            out = pdf.copy()
            out["list_id"] = li
            yield out

    schema = ", ".join(
        f"{c} {t}" for c, t in vectors.dtypes
    ) + ", list_id int"
    return vectors.mapInPandas(assign, schema=schema)


def ivf_probes(
    queries: DataFrame,
    cents: np.ndarray,
    nprobe: int,
    qid_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, qv, list_id) for each query's nprobe nearest centroids —
    same numpy scoring as ivf_assign; the (score, index) ordering of the
    round-6 window rendering is reproduced by a stable argsort over the
    bit-identical scores."""
    from collections.abc import Iterator

    import pandas as pd

    cents = np.asarray(cents, dtype=np.float64)
    n_lists = len(cents)
    take = min(nprobe, n_lists)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            order = np.argsort(
                _ivf_scores_np(x, cents), axis=1, kind="stable"
            )[:, :take]  # stable: equal scores keep index order
            out = pd.DataFrame(
                {
                    qid_col: np.repeat(pdf[qid_col].to_numpy(), take),
                    "qv": [
                        v for v in pdf[vec_col] for _ in range(take)
                    ],
                    "list_id": order.reshape(-1).astype(np.int32),
                }
            )
            yield out

    qid_type = dict(queries.dtypes)[qid_col]
    vec_type = dict(queries.dtypes)[vec_col]
    return queries.select(qid_col, vec_col).mapInPandas(
        probe, schema=f"{qid_col} {qid_type}, qv {vec_type}, list_id int"
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    cents: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
) -> DataFrame:
    """IVF-Flat top-k: probe nprobe lists, exact cosine re-rank within
    them.  The (small) probe side is broadcast into an equi-join on
    list_id, so the corpus-side cost is a scan of the probed lists only —
    never a cross join, and per-query work tracks nprobe/n_lists of the
    corpus."""
    assigned = ivf_assign(vectors.select(id_col, vec_col), cents, vec_col)
    probes = ivf_probes(queries, cents, nprobe, qid_col, vec_col)
    pairs = assigned.join(F.broadcast(probes), "list_id").filter(
        F.col(qid_col) != F.col(id_col)
    )
    scored = cosine_scores(pairs, qid_col, id_col, vec_col)
    return cosine_topk(scored, qid_col, id_col, k).drop("cos")


# ------------------------------------------------------------------ oracle


def duckdb_ivf_topk_sql(
    cents: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    query_mod: int = 50,
) -> str:
    """DuckDB twin of ivf_topk over the pre-registered `embeddings` view
    with queries = vec_id % query_mod == 0: identical centroid literals,
    identical fold arithmetic (list_dot_product over DOUBLE[] is the same
    left-to-right accumulation), identical tie rules."""
    cents = np.asarray(cents, dtype=np.float64)
    rows = ", ".join(
        "({}, [{}]::DOUBLE[], CAST('{!r}' AS DOUBLE))".format(
            i,
            ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in row),
            float((row * row).sum()),
        )
        for i, row in enumerate(cents)
    )
    return f"""
WITH cents(i, c, c2) AS (VALUES {rows}),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assigned AS (
  SELECT vec_id, v, i AS list_id
  FROM emb CROSS JOIN cents
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY c2 - 2.0 * list_dot_product(v, c), i) = 1
),
queries AS (SELECT vec_id AS query_id, v AS qv FROM emb
            WHERE vec_id % {query_mod} = 0),
probes AS (
  SELECT query_id, qv, i AS list_id
  FROM queries CROSS JOIN cents
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY c2 - 2.0 * list_dot_product(qv, c), i)
    <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_dot_product(p.qv, a.v)
           / (sqrt(list_dot_product(p.qv, p.qv))
              * sqrt(list_dot_product(a.v, a.v))) AS cos
  FROM probes p JOIN assigned a USING (list_id)
  WHERE p.query_id <> a.vec_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
FROM (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= {k}
ORDER BY query_id, rank
"""
