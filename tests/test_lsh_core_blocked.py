"""The blocked CP kernel ``cp_bucket_keys`` against the unblocked chain
``concat_hashes(cp_hash(x @ R), d)`` it replaced, and the argmin
``cp_hash`` against the argmax(-y) formulation it replaced — bit for bit,
on the row counts around the 512-row block and on the inputs that stress
the tie rules (exact integer ties, +-0.0, NaN)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lsh_project_spark.config import CrossPolytopeConfig
from lsh_project_spark.oracle.lsh_core import (
    concat_hashes,
    cp_bucket_keys,
    cp_hash,
    cp_multiprobe_keys,
)
from lsh_project_spark.params import fold_rotations_2d, rotations_2d
from lsh_project_spark.plans.entry_queries import _mp_rot

ROW_COUNTS = [0, 1, 511, 512, 513, 1543]
ROT_GAUSS = fold_rotations_2d(CrossPolytopeConfig(dim=32, k=2, num_tables=4))
ROT_PM1 = rotations_2d(_mp_rot())  # the multi-probe gate's +-1 rotation, d=8


def cp_hash_argmax_neg(y: np.ndarray) -> np.ndarray:
    """The argmax(-y) formulation ``cp_hash`` had before argmin."""
    d = y.shape[-1]
    pos_idx = np.argmax(y, axis=-1)
    neg_idx = np.argmax(-y, axis=-1)
    pos_max = np.take_along_axis(y, pos_idx[..., None], axis=-1)[..., 0]
    neg_max = -np.take_along_axis(y, neg_idx[..., None], axis=-1)[..., 0]
    return np.where(pos_max >= neg_max, pos_idx, neg_idx + d).astype(np.int64)


def unblocked(x: np.ndarray, rot2d: np.ndarray, L: int, k: int) -> np.ndarray:
    d = rot2d.shape[0]
    y = (x.astype(np.float32) @ rot2d).reshape(len(x), L, k, d)
    return concat_hashes(cp_hash(y), d)


def rows_of(kind: str, n: int, d: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    if kind == "gauss":
        return rng.normal(size=(n, d)).astype(np.float32)
    if kind == "int":  # the gate's +-100 integer features: exact float32 ties
        return rng.integers(-100, 101, size=(n, d)).astype(np.float32)
    # +-0.0 rows, NaN rows and rows with a single NaN among Gaussian rows
    x = rng.normal(size=(n, d)).astype(np.float32)
    which = rng.integers(0, 4, size=n)
    x[which == 0] = np.where(rng.random((d,)) < 0.5, 0.0, -0.0)
    x[which == 1] = np.nan
    if n:
        x[which == 2, rng.integers(0, d)] = np.nan
    return x


@settings(max_examples=40, deadline=None)
@given(
    n=st.sampled_from(ROW_COUNTS),
    kind=st.sampled_from(["gauss", "int", "zero_nan"]),
    seed=st.integers(0, 2**32 - 1),
)
def test_blocked_keys_equal_unblocked(n, kind, seed):
    rot2d, L, k = (ROT_PM1, 2, 2) if kind == "int" else (ROT_GAUSS, 4, 2)
    x = rows_of(kind, n, rot2d.shape[0], seed)
    got = cp_bucket_keys(x, rot2d, L, k)
    assert got.shape == (n, L) and got.dtype == np.int64
    assert np.array_equal(got, unblocked(x, rot2d, L, k))


@settings(max_examples=40, deadline=None)
@given(
    n=st.sampled_from(ROW_COUNTS),
    kind=st.sampled_from(["gauss", "int", "zero_nan"]),
    seed=st.integers(0, 2**32 - 1),
)
def test_argmin_cp_hash_equals_argmax_neg(n, kind, seed):
    rot2d = ROT_PM1 if kind == "int" else ROT_GAUSS
    d = rot2d.shape[0]
    y = (rows_of(kind, n, d, seed) @ rot2d).reshape(n, rot2d.shape[1] // d, d)
    assert np.array_equal(cp_hash(y), cp_hash_argmax_neg(y))


def test_blocked_keys_at_reference_config():
    """The paper's config (d=128, k=2, L=8) over several blocks."""
    rot2d = fold_rotations_2d(CrossPolytopeConfig(dim=128, k=2, num_tables=8))
    x = rows_of("gauss", 1543, 128, 11)
    assert np.array_equal(cp_bucket_keys(x, rot2d, 8, 2), unblocked(x, rot2d, 8, 2))


def test_multiprobe_probe0_is_the_bucket_key():
    for kind, rot2d, L in (("gauss", ROT_GAUSS, 4), ("int", ROT_PM1, 2)):
        x = rows_of(kind, 1543, rot2d.shape[0], 5)
        keys = cp_multiprobe_keys(x, rot2d, L, 2, probes=3)
        assert keys.shape == (3, 1543, L)
        assert np.array_equal(keys[0], cp_bucket_keys(x, rot2d, L, 2))
        # each further probe swaps one sub-hash: a different bucket
        assert (keys[1:] != keys[0]).all()
