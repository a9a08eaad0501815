"""Driver-side numpy parameter precomputation for cross-polytope LSH.

Reimplements (from observed behavior, not code) the reference's parameter
pipeline:

- orthonormal Hadamard row cache  H[i][j] = 2^(-log2 d / 2) * (-1)^popcount(i&j)
  (/root/reference/src/lsh.c:96-106, src/main.cc:42-51),
- random +-1 diagonal vectors (src/lsh.c:79-87),
- the *precomputed rotation fold*: the reference's production path folds the
  ``num_rotations`` (Hadamard x diagonal) steps into one dense d x d matrix
  per (table, hash_idx) — operator fusion done once up front
  (precomputeRotation, src/lsh.c:110-176) — and then applies it as a plain
  mat-vec (src/lsh.c:344-354).  SURVEY.md §2.2 pins this as the canonical
  semantics: M = H·D1·H·D2·H·D3, applied as y = M @ x.

All randomness is drawn from seeded ``numpy.random.Generator(PCG64)`` so
parameters are pure functions of the config (the exact reference bit-streams
— mt19937_64 / PCG32 — are NOT replicated; per SURVEY.md §5.4 the acceptance
oracle is recall at identical configs, not bit parity with the compiled
binary).

The folded tensor is tiny (L·k·d·d float32 = 1 MiB at L=8,k=2,d=128) and is
shipped to executors via closure capture / broadcast.
"""

from __future__ import annotations

import numpy as np

from .config import CrossPolytopeConfig


def hadamard_matrix(dim: int) -> np.ndarray:
    """Orthonormal Hadamard matrix via the popcount identity.

    H[i][j] = dim^-0.5 * (-1)^popcount(i & j) — the same construction the
    reference caches row-wise (src/lsh.c:96-106).  Requires dim a power of 2.
    """
    if dim & (dim - 1):
        raise ValueError(f"Hadamard dim must be a power of 2, got {dim}")
    idx = np.arange(dim, dtype=np.uint64)
    anded = idx[:, None] & idx[None, :]
    # vectorized popcount parity
    par = anded.copy()
    pop = np.zeros_like(par)
    while par.any():
        pop ^= par & 1
        par >>= 1
    signs = 1.0 - 2.0 * pop.astype(np.float64)
    return (signs * dim**-0.5).astype(np.float32)


def rotation_diagonals(cfg: CrossPolytopeConfig) -> np.ndarray:
    """Random +-1 diagonals, shape [L, k, num_rotations, d] (the reference's
    ``rotation_vecs``, src/lsh.c:60-62,79-87), drawn from PCG64(seed)."""
    rng = np.random.Generator(np.random.PCG64(cfg.seed))
    raw = rng.integers(
        0, 2, size=(cfg.num_tables, cfg.k, cfg.num_rotations, cfg.dim)
    )
    return (2 * raw - 1).astype(np.float32)


def fold_rotations(cfg: CrossPolytopeConfig) -> np.ndarray:
    """Fold the chained (Hadamard x diag) steps into one dense matrix per
    (table, hash_idx): M = H·D1·H·D2·...·H·Dr, applied as y = M @ x.

    This is the reference's precomputeRotation (src/lsh.c:110-176) expressed
    as three numpy matmuls instead of a hand-written O(d^3) loop.  Returns
    float32 tensor of shape [L, k, d, d].
    """
    h = hadamard_matrix(cfg.hadamard_dim).astype(np.float64)
    diags = rotation_diagonals(cfg).astype(np.float64)
    L, k, r, d = diags.shape
    out = np.empty((L, k, d, d), dtype=np.float64)
    for t in range(L):
        for j in range(k):
            m = np.eye(d)
            for s in range(r):
                m = m @ h @ np.diag(diags[t, j, s])
            out[t, j] = m
    return out.astype(np.float32)


def rotations_2d(rot: np.ndarray) -> np.ndarray:
    """A rotation tensor [L, k, d, d] laid out for one-matmul-per-batch
    application: [d, L*k*d] so that
    ``batch[B,d] @ R2d -> [B, L*k*d] -> reshape [B,L,k,d]``.

    This is the Spark-native analog of the reference's bulked kernels
    (src/lsh.c:466-536, bulk=512): one BLAS call per Arrow record batch
    computes every table's every hash at once.
    """
    L, k, d, _ = rot.shape  # Y[b,l,k,i] = sum_j rot[l,k,i,j] * X[b,j]
    return np.ascontiguousarray(rot.transpose(3, 0, 1, 2).reshape(d, L * k * d))


def fold_rotations_2d(cfg: CrossPolytopeConfig) -> np.ndarray:
    """``fold_rotations(cfg)`` in the [d, L*k*d] matmul layout; the
    reshape of a product takes (L, k, d) = (num_tables, k, dim)."""
    return rotations_2d(fold_rotations(cfg))
