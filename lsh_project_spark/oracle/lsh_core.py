"""Cross-polytope LSH kernels (numpy, batched).

Semantics pinned from the reference (behavioral study only, no code copied):

- ``cp_hash``: the cross-polytope hash of a vector is the index of its
  largest-absolute-value coordinate, returning ``i`` for +x[i] and ``i + d``
  for -x[i]; first index wins on ties and the positive sign wins at equal
  magnitude (scalar loop with strict ``>`` compares, the reference's
  src/lsh.c:203-220).  numpy ``argmax``/``argmin`` are
  first-index, so the tie rules are replicated exactly by comparing
  max(x) >= -min(x).

- ``concat_hashes``: k sub-hashes concatenated into one integer bucket key,
  ``res = (res << cldim) | h_j`` with cldim = ceil(log2 d)+1, no wrap-around
  (/root/reference/src/lsh.c:328-342).

- ``cp_bucket_keys``: the rotation matmul + ``cp_hash`` + ``concat_hashes``
  chain every CP signer runs, in fixed row blocks so the [rows, L*k*d]
  float32 product stays in cache; ``cp_multiprobe_keys`` is its multi-probe
  form (base bucket plus the cheapest single sub-hash swaps).

- ``cp_signatures``: for every row, every table, apply the folded rotation
  (params.fold_rotations) and hash — the batched form of the reference's
  table-build loop (/root/reference/src/main.cc:294-323) and bulked query
  path (/root/reference/src/lsh.c:466-536).

- ``brute_force_nn``: exact ground truth by max-inner-product linear scan,
  first-max-wins (/root/reference/src/main.cc:91-113).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np


def cp_hash(y: np.ndarray) -> np.ndarray:
    """Cross-polytope hash of each row of y [..., d] -> int32 in [0, 2d).

    Positive sign wins at equal magnitude; lowest index wins on value ties
    (matches the reference's strict-> scalar scan).
    """
    d = y.shape[-1]
    pos_idx = np.argmax(y, axis=-1)
    # argmin(y) is argmax(-y) without the full-size negated copy
    neg_idx = np.argmin(y, axis=-1)
    pos_max = np.take_along_axis(y, pos_idx[..., None], axis=-1)[..., 0]
    neg_max = -np.take_along_axis(y, neg_idx[..., None], axis=-1)[..., 0]
    # the scalar scan checks +x[i] before -x[i]: at equal magnitude the
    # positive index wins iff it comes no later; for equal magnitudes at the
    # same scan position positive wins.  Continuous data makes exact ties
    # measure-zero; we pin "positive wins on >=" (SURVEY.md §2.2 H1/H2 note).
    return np.where(pos_max >= neg_max, pos_idx, neg_idx + d).astype(np.int64)


def concat_hashes(hashes: np.ndarray, dim: int) -> np.ndarray:
    """Concatenate k sub-hashes [..., k] into one bucket key: left-shift by
    cldim = ceil(log2 dim)+1 per step, OR in the sub-hash."""
    cldim = (dim - 1).bit_length() + 1
    out = np.zeros(hashes.shape[:-1], dtype=np.int64)
    for j in range(hashes.shape[-1]):
        out = (out << cldim) | hashes[..., j]
    return out


CP_BLOCK_ROWS = 512  # a [512, L*k*d] float32 product is 4 MiB at L=8, k=2, d=128


def _row_blocks(n: int, block: int = CP_BLOCK_ROWS) -> Iterator[slice]:
    """Row slices of ``block`` rows covering [0, n).  A 1-row remainder
    joins the block before it: a 1-row product runs as BLAS matrix-vector,
    which rounds differently from the matrix-matrix call, so the blocked
    keys would stop matching one whole-batch matmul bit for bit."""
    lo = 0
    while lo < n:
        hi = n if n - lo <= block + 1 else lo + block
        yield slice(lo, hi)
        lo = hi


def cp_bucket_keys(x: np.ndarray, rot2d: np.ndarray, L: int, k: int) -> np.ndarray:
    """Bucket keys of rows x [n, d] -> int64 [n, L]: ``(x @ rot2d)`` hashed
    per (table, sub-hash) and concatenated, with ``rot2d`` the [d, L*k*d]
    folded rotation (params.rotations_2d).  Equal bit for bit to the
    unblocked ``concat_hashes(cp_hash((x @ rot2d).reshape(n, L, k, d)), d)``
    under single-threaded BLAS (tests/test_lsh_core_blocked.py)."""
    d = rot2d.shape[0]
    x = np.asarray(x, dtype=np.float32)
    out = np.empty((len(x), L), dtype=np.int64)
    for rows in _row_blocks(len(x)):
        y = (x[rows] @ rot2d).reshape(-1, L, k, d)
        out[rows] = concat_hashes(cp_hash(y), d)
    return out


def cp_multiprobe_keys(
    x: np.ndarray, rot2d: np.ndarray, L: int, k: int, probes: int
) -> np.ndarray:
    """Multi-probe bucket keys of rows x [n, d] -> int64 [P, n, L] with
    P = min(probes, k + 1): probe 0 is ``cp_bucket_keys``' base bucket,
    probe p swaps the sub-hash with the p-th smallest margin
    |y|_best - |y|_second for its runner-up (Lv et al. '07 multi-probe LSH;
    the analog of FALCONN's probing sequence, the reference's
    falconn/random_benchmark.cc:298)."""
    d = rot2d.shape[0]
    cldim = (d - 1).bit_length() + 1  # bits per sub-hash (concat_hashes)
    shift = cldim * (k - 1 - np.arange(k))  # bit offset of sub-hash j
    n_probes = min(probes, k + 1)
    x = np.asarray(x, dtype=np.float32)
    out = np.empty((n_probes, len(x), L), dtype=np.int64)
    take = np.take_along_axis
    for rows in _row_blocks(len(x)):
        y = (x[rows] @ rot2d).reshape(-1, L, k, d)
        # base sub-hashes via the EXACT data-side function (tie rules
        # included) so probe 0 always hits the indexed bucket
        h1 = cp_hash(y)  # [n, L, k], h = axis + d*(sign<0)
        ax = h1 % d
        abs_chosen = np.abs(take(y, ax[..., None], 3)[..., 0])
        ay = np.abs(y)
        np.put_along_axis(ay, ax[..., None], -1.0, axis=3)
        second_ax = np.argmax(ay, axis=3)
        second_val = take(y, second_ax[..., None], 3)[..., 0]
        h2 = second_ax + d * (second_val < 0)
        margin = abs_chosen - np.abs(second_val)  # [n, L, k] >= 0
        base = concat_hashes(h1, d)  # [n, L]
        out[0, rows] = base
        # probe p swaps exactly one sub-hash j to h2; cheapest first
        swap_rank = np.argsort(margin, axis=2)  # [n, L, k]
        for p in range(1, n_probes):
            j = swap_rank[:, :, p - 1]  # [n, L]
            sh = shift[j]
            old = take(h1, j[..., None], 2)[..., 0]
            new = take(h2, j[..., None], 2)[..., 0]
            out[p, rows] = base - (old << sh) + (new << sh)
    return out


def cp_signatures(x: np.ndarray, rotmat: np.ndarray) -> np.ndarray:
    """Bucket keys for a batch: x [B, d] float32, rotmat [L, k, d, d]
    -> int64 [B, L].

    One einsum computes all tables' all k rotated copies at once — the
    Spark UDF calls exactly this per Arrow record batch.
    """
    d = x.shape[-1]
    y = np.einsum("bd,lked->blke", x.astype(np.float32), rotmat)  # [B,L,k,d]
    sub = cp_hash(y)  # [B, L, k]
    return concat_hashes(sub, d)  # [B, L]


def brute_force_nn(queries: np.ndarray, data: np.ndarray) -> np.ndarray:
    """Exact NN by max inner product, first-max-wins -> int64 [Q]."""
    scores = queries.astype(np.float64) @ data.astype(np.float64).T
    return np.argmax(scores, axis=1).astype(np.int64)
