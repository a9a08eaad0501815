"""Shared numpy caption/document signature kernels.

One vectorized implementation of the shingle -> hash62 -> MinHash/SimHash
math, used by BOTH the fused Arrow profile stage (operators/profile.py)
and the standalone per-modality operators (operators/signatures.py).
Keeping a single kernel guarantees the standalone band tables and the
fused pipeline produce bit-identical signatures (pinned by
tests/test_profile_parity.py and the driver's DuckDB gates).

Why numpy and not JVM higher-order functions: Spark HOF lambdas evaluate
interpreted (outside whole-stage codegen); at num_perm x shingles x rows
element-ops they dominate the runtime (guide: eliminate the per-element
interpreted work, keep Spark for distribution).  The hash62 family is
already Arrow-vectorized (functions/hashing.py); these kernels keep the
minima/votes/band sums in the same numpy pass, so no per-shingle row ever
crosses an exchange: the per-doc signature comes out of the scan stage.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa

from .hashing import (
    POLY_B,
    POLY_M1,
    POLY_M2,
    PORTABLE_HASH_MOD,
    _mix_np,
    _pow_mod_vec,
    portable_hash62_np,
    salted_hash62_np,
)

H32 = 1 << 32
SIMHASH_BITS = 56
_SPACE = 32  # codepoint of the shingle separator


def _factorize_strings(strs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(codes, uniques) in first-seen order, comparing exact UTF-8 bytes.
    pd.factorize's string hash table stops at an embedded NUL, so 'a' and
    'a\\x00b' would share one code; Arrow strings carry their length."""
    enc = pa.array(strs, pa.string()).dictionary_encode()
    return (
        enc.indices.to_numpy().astype(np.int64),
        enc.dictionary.to_numpy(zero_copy_only=False),
    )


def shingle_set(text: str, k: int) -> list[str]:
    """Distinct word k-shingles; short docs yield one whole-text shingle
    (matches signatures.shingle_expr / oracle/minhash.shingles)."""
    toks = text.split(" ")
    if len(toks) <= k:
        return [text]
    return list({" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)})


class ShingleBlock(NamedTuple):
    """Per-block decomposition of a list of documents into hashed distinct
    shingles.  Doc i's shingle hashes are
    ``h62[inv[starts[i] : starts[i] + lengths[i]]]``.  ``lane1``/``lane2``
    are the raw polynomial lanes of each unique shingle and ``ulens`` its
    codepoint length, kept so prefixed hash families (SimHash's salted
    second fingerprint) derive by lane composition instead of a second
    character pass.  The unique axis may contain duplicate VALUES (a
    short doc's whole-text shingle equal to a long doc's gram) — every
    consumer gathers per-doc segments via ``inv``, so only per-doc
    distinctness matters, and that is exact."""

    inv: np.ndarray  # flat occurrence -> unique index
    starts: np.ndarray  # per-doc segment starts into inv
    lengths: np.ndarray  # per-doc segment lengths
    h62: np.ndarray  # hash62 per unique shingle
    lane1: np.ndarray
    lane2: np.ndarray
    ulens: np.ndarray

    def salted_h62(self, salt: str) -> np.ndarray:
        return salted_hash62_np(salt, self.lane1, self.lane2, self.ulens)


def shingle_hash_block(texts: list[str], k: int) -> ShingleBlock:
    """Shared per-block decomposition with TOKEN-level hashing: characters
    are hashed once per *unique token* in the block, and every shingle's
    polynomial lanes are composed from its tokens' lanes —

        lane(t1 + ' ' + t2) = (lane(t1)*B + 32) * B^len(t2) + lane(t2)  (mod M)

    — an exact modular identity, so the per-shingle hash62 is
    bit-identical to hashing the joined string (pinned by
    tests/test_hashing.py).  Per-doc distinctness is decided on exact
    token-id tuples (equivalent to string distinctness: tokens cannot
    contain the separator), so no hash-collision class is introduced.
    Versus hashing each unique shingle string (rounds <= 7a), this skips
    building ~k x the shingle characters and hashes ~vocabulary-size
    strings instead of ~distinct-shingle-count strings.

    Docs with <= k tokens contribute their whole text as the single
    shingle (shingle_set semantics), hashed directly."""
    tok_lists = [t.split(" ") for t in texts]
    nt = np.array([len(l) for l in tok_lists], dtype=np.int64)
    n = len(texts)
    short = nt <= k
    lengths = np.empty(n, dtype=np.int64)
    lengths[short] = 1

    # ---- long docs: factorize tokens, compose gram lanes, exact dedup
    long_ord = np.nonzero(~short)[0]
    if len(long_ord):
        flat = np.array(
            [tok for i in long_ord for tok in tok_lists[i]], dtype=object
        )
        tcodes, tuniq = _factorize_strings(flat)
        _, tl1, tl2 = portable_hash62_np(tuniq, return_lanes=True)
        tlens = np.fromiter(
            (len(s) for s in tuniq), dtype=np.int64, count=len(tuniq)
        )
        pw1 = _pow_mod_vec(POLY_B, tlens, POLY_M1)
        pw2 = _pow_mod_vec(POLY_B, tlens, POLY_M2)
        ln = nt[long_ord]
        tok_starts = np.cumsum(ln) - ln
        ng = ln - k + 1  # grams per long doc (>= 1)
        tot = int(ng.sum())
        gdoc = np.repeat(long_ord, ng)  # original doc index per gram
        gs = np.cumsum(ng) - ng
        pos = np.arange(tot, dtype=np.int64) - np.repeat(gs, ng)
        base = np.repeat(tok_starts, ng) + pos
        idcols = [tcodes[base + j] for j in range(k)]

        def compose(tl: np.ndarray, pw: np.ndarray, M: int) -> np.ndarray:
            acc = tl[idcols[0]]
            for j in range(1, k):
                tj = idcols[j]
                # acc < M < 2^31; acc*B + 32 < 2^51; acc*pw < 2^62: exact
                acc = (acc * POLY_B + _SPACE) % M
                acc = (acc * pw[tj] + tl[tj]) % M
            return acc

        gl1 = compose(tl1, pw1, POLY_M1)
        gl2 = compose(tl2, pw2, POLY_M2)
        gulen = tlens[idcols[0]].copy()
        for j in range(1, k):
            gulen += tlens[idcols[j]] + 1  # + the separator
        # exact per-doc dedup on packed token-id tuples (refactorize when a
        # pack level could overflow int64 — keeps the pack exact, never hashed)
        V = len(tuniq)
        code = idcols[0]
        for j in range(1, k):
            if (int(code.max()) + 1) * (V + 1) >= (1 << 62):
                code = np.asarray(pd.factorize(code)[0], dtype=np.int64)
            code = code * (V + 1) + idcols[j]
        order = np.lexsort((code, gdoc))
        gd_s, code_s = gdoc[order], code[order]
        keep = np.ones(tot, dtype=bool)
        keep[1:] = (gd_s[1:] != gd_s[:-1]) | (code_s[1:] != code_s[:-1])
        sel = order[keep]  # first occurrence of each distinct gram per doc
        kept_doc = gd_s[keep]
        # block-unique axis over the kept grams
        linv, lcode = pd.factorize(code_s[keep])
        linv = np.asarray(linv, dtype=np.int64)
        first_pos = np.full(len(lcode), len(linv), dtype=np.int64)
        np.minimum.at(first_pos, linv, np.arange(len(linv)))
        rep = sel[first_pos]  # representative gram per unique
        u_l1, u_l2, u_ulen = gl1[rep], gl2[rep], gulen[rep]
        # distinct-gram count per long doc
        lengths[long_ord] = np.bincount(
            kept_doc, minlength=n
        )[long_ord]
    else:
        linv = np.empty(0, dtype=np.int64)
        kept_doc = np.empty(0, dtype=np.int64)
        u_l1 = u_l2 = u_ulen = np.empty(0, dtype=np.int64)

    # ---- short docs: whole-text shingles, deduped among themselves
    n_long_u = len(u_l1)
    if short.any():
        stexts = np.array(
            [texts[i] for i in np.nonzero(short)[0]], dtype=object
        )
        sinv, suniq = _factorize_strings(stexts)
        _, sl1, sl2 = portable_hash62_np(suniq, return_lanes=True)
        sulen = np.fromiter(
            (len(s) for s in suniq), dtype=np.int64, count=len(suniq)
        )
        lane1 = np.concatenate((u_l1, sl1))
        lane2 = np.concatenate((u_l2, sl2))
        ulens = np.concatenate((u_ulen, sulen))
    else:
        sinv = np.empty(0, dtype=np.int64)
        lane1, lane2, ulens = u_l1, u_l2, u_ulen

    # ---- merge occurrence streams in original doc order
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    inv = np.empty(int(lengths.sum()), dtype=np.int64)
    if len(kept_doc):
        # kept grams are sorted by doc; rank within doc = running offset
        kst = np.cumsum(lengths[long_ord]) - lengths[long_ord]
        doc_rank = np.arange(len(kept_doc), dtype=np.int64) - np.repeat(
            kst, lengths[long_ord]
        )
        inv[starts[kept_doc] + doc_rank] = linv
    if len(sinv):
        inv[starts[short]] = n_long_u + sinv
    h62 = _mix_np(lane1, lane2)
    return ShingleBlock(inv, starts, lengths, h62, lane1, lane2, ulens)


def minhash_bands_from_block(
    h62_uniq: np.ndarray, inv: np.ndarray, starts: np.ndarray,
    a: np.ndarray, b: np.ndarray, c: np.ndarray, n_bands: int, rpb: int,
) -> np.ndarray:
    """[n_docs, n_bands] int64 band hashes.  Bit-identical to the SQL
    renderings: mh_i = min over shingle h32 of (a_i*h + b_i) mod P, band =
    exact int64 sum over the band's rows of ((mh_i mod 2^32) * c_i) mod P
    (rpb * P < 2^63, so the sum never overflows)."""
    P = PORTABLE_HASH_MOD
    h32u = h62_uniq % H32
    vals_u = (h32u[:, None] * a[None, :] + b[None, :]) % P  # [U, num_perm]
    sig = np.minimum.reduceat(vals_u[inv], starts, axis=0)  # [n, num_perm]
    terms = ((sig % H32) * c) % P
    return terms.reshape(len(starts), n_bands, rpb).sum(axis=2)


def simhash_from_block(
    h62s: np.ndarray, inv: np.ndarray, starts: np.ndarray
) -> np.ndarray:
    """[n_docs] int64 56-bit SimHash fingerprints from per-unique-shingle
    hash62 values (plain or salted family): bit b = 1 iff the +/-1 votes of
    the doc's shingles' h56 bit b sum positive."""
    h56u = h62s >> 4
    bits_u = (
        2 * ((h56u[:, None] >> np.arange(SIMHASH_BITS, dtype=np.int64)[None, :]) & 1) - 1
    ).astype(np.int8)  # [U, 56]
    votes = np.add.reduceat(bits_u[inv].astype(np.int32), starts, axis=0)
    weights = np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64)
    return np.where(votes > 0, weights[None, :], 0).sum(axis=1)
