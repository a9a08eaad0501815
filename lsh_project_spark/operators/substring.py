"""Suffix-array substring-duplicate pass (Lee et al. '22 style; no
reference analog — mandated by the dedup graft, SURVEY.md §2.9).

Finds document pairs sharing an exact common substring of >= min_length
characters, at scale, in three stages:

1. **Winnowed fingerprints** (Schleimer et al. '03): per document, rolling
   polynomial hashes of char k-grams; keep the minimum hash of every
   window of w = min_length - k + 1 consecutive k-grams.  Guarantee: any
   common substring of length >= w + k - 1 = min_length shares at least
   one selected fingerprint.  Vectorized numpy inside ``mapInPandas``
   (sliding_window_view), shuffle-free.
2. **Candidate pairs**: fingerprint equi-join (same bucket-join pattern as
   every other modality; hot-fingerprint star defense applies).
3. **Exact verify**: per candidate pair, the exact longest-common-substring
   length via vectorized diagonal-run scanning over shared g-gram positions
   (lcs_len_via_diagonal_runs), cogrouped on a G x G grid of cells so each
   document's text ships at most 2G-1 times regardless of partner count and
   its g-gram hash array is computed once per cell, not once per pair; the
   generalized *suffix array* + LCP (functions/suffix.py) remains the
   fallback for low-entropy documents with quadratic match sets.

Cross-partition correctness is free: fingerprints are global values, the
equi-join sees all documents regardless of partitioning.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import SubstringConfig
from ..functions.suffix import longest_common_substring_len
from .candidates import candidate_pairs

_B = 1000003  # polynomial hash base (shared by both lanes)
# two coprime 31-bit prime moduli; the pair (h1, h2) packs into one 62-bit
# fingerprint.  31-bit lanes keep every numpy intermediate inside int64:
# byte * weight < 2^39, k-term dot < k * 2^62/k, see _gram_dot.
_M1 = (1 << 31) - 1  # Mersenne prime 2147483647
_M2 = 2147483629  # largest prime below it


def _gram_dot(win: np.ndarray, mod: int, k: int) -> np.ndarray:
    """Polynomial hash of each row of ``win`` ([n, k] uint8) mod ``mod``:
    h[i] = sum_j win[i, j] * B^(k-1-j) mod ``mod``.  One BLAS float64
    matvec then one mod: every product < 256 * 2^31 = 2^39 and the k-term
    sum < k * 2^39 < 2^53 for k <= 512, so the float64 arithmetic is
    EXACT (no rounding).  ``win`` must already be float64."""
    assert k <= 512, "k-gram too wide for exact float64 accumulation"
    w = np.array([pow(_B, k - 1 - j, mod) for j in range(k)], dtype=np.float64)
    return (win @ w).astype(np.int64) % mod


# row-chunk for the [windows, k] float64 materialization below: sized so
# the per-chunk temporary (chunk * k * 8 B; k=20 -> 5 MB) stays
# cache-resident — 256k-row chunks (40 MB) ran 8x slower on this box's
# memory subsystem, and a 1 MB doc would otherwise allocate ~160 MB/lane
_ROW_CHUNK = 1 << 15


def _kgram_hashes(text: str, k: int) -> np.ndarray:
    """62-bit fingerprints of all char k-grams, fully vectorized numpy
    (sliding_window_view + one batched multiply-accumulate per 31-bit
    lane; no per-character Python).  Equal grams always hash equal, so
    the winnowing recall guarantee is hash-scheme independent; the 62-bit
    space only controls false-candidate rate before exact verify."""
    x = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = len(x)
    if n < k:
        return np.empty(0, dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(x, k)  # view, no copy
    out = np.empty(len(win), dtype=np.int64)
    for lo in range(0, len(win), _ROW_CHUNK):
        blk = np.ascontiguousarray(win[lo : lo + _ROW_CHUNK], dtype=np.float64)
        h1 = _gram_dot(blk, _M1, k)
        h2 = _gram_dot(blk, _M2, k)
        out[lo : lo + _ROW_CHUNK] = h1 * _M2 + h2  # < 2^31*2^31 + 2^31 < 2^62
    return out


# below this many scan (non-equal-text) candidate pairs, substring_pairs
# verifies by joining both texts onto each pair directly instead of the
# grid cogroup: the shuffled payload is bounded by pairs x 2 x doc size
# (~hundreds of MB worst case at the cap, spread over tasks), which is
# cheaper than the grid's fixed plumbing until pair counts reach real
# corpus scale
_DIRECT_VERIFY_MAX_PAIRS = 200_000

# diagonal-run match-pair budget: above this the run scan falls back to the
# suffix-array verifier (low-entropy docs where one gram repeats heavily can
# make |{(i,j): gram_a[i]=gram_b[j]}| quadratic; the SA path is O(n log n))
_DIAG_MATCH_CAP = 4_000_000


def lcs_len_via_diagonal_runs(
    ta: str, tb: str, g: int,
    ha: np.ndarray | None = None, hb: np.ndarray | None = None,
) -> int:
    """Exact longest-common-substring length, given it is >= g; returns 0
    when the two docs share no g-gram (i.e. LCS < g).  Pass precomputed
    g-gram hash arrays ``ha``/``hb`` to amortize them across the many pairs
    one document participates in (the grid verify does).

    Method (the numpy port of the DuckDB oracle's formulation,
    plans/entry_queries.py substring_pairs): a common substring of length
    L >= g produces exactly L-g+1 consecutive shared g-grams at constant
    alignment diagonal i-j, and conversely — so

        lcs_len = g - 1 + (longest run of consecutive shared g-grams
                           on one diagonal).

    Everything is vectorized over the shared-gram position pairs (sort by
    (diagonal, i), run-break flags, bincount) — no per-character Python.
    Replaces the round-2 per-character Kasai loop for pair verification
    (~10-100x on document-scale texts); the SA/Kasai module remains as the
    fallback for low-entropy docs whose match set would be quadratic.

    Gram equality is tested via the 62-bit fingerprints (_kgram_hashes): a
    false positive needs a 2^-62 collision — the same negligible-risk
    argument as the hash-based Jaccard verify (operators/profile.py).
    """
    if ha is None:
        ha = _kgram_hashes(ta, g)
    if hb is None:
        hb = _kgram_hashes(tb, g)
    if len(ha) == 0 or len(hb) == 0:
        return 0
    sb = np.argsort(hb, kind="stable")
    hb_sorted = hb[sb]
    left = np.searchsorted(hb_sorted, ha, side="left")
    right = np.searchsorted(hb_sorted, ha, side="right")
    cnt = right - left
    m = int(cnt.sum())
    if m == 0:
        return 0
    if m > _DIAG_MATCH_CAP:
        return longest_common_substring_len(ta, tb)
    i = np.repeat(np.arange(len(ha), dtype=np.int64), cnt)
    starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    offs = np.repeat(left - starts, cnt) + np.arange(m, dtype=np.int64)
    j = sb[offs]
    diag = i - j
    order = np.lexsort((i, diag))
    di, ii = diag[order], i[order]
    new_run = np.ones(m, dtype=bool)
    new_run[1:] = (di[1:] != di[:-1]) | (ii[1:] != ii[:-1] + 1)
    run_len = np.bincount(np.cumsum(new_run) - 1)
    return int(g - 1 + run_len.max())


def _lcs_accepts(
    a: pd.Series, b: pd.Series, text_a: pd.Series, text_b: pd.Series, g: int
) -> pd.DataFrame:
    """The exact substring verify kernel every verify path runs: aligned
    (a, b, text_a, text_b) columns -> the (a, b, lcs_len) rows whose
    longest common substring is >= g.  Each id's g-gram hash array is
    computed once per call, however many pairs it is in (one id, one
    text)."""
    grams: dict = {}

    def g_of(i, t):
        h = grams.get(i)
        if h is None:
            h = grams[i] = _kgram_hashes(t, g)
        return h

    lens = np.fromiter(
        (
            lcs_len_via_diagonal_runs(ta, tb, g, g_of(x, ta), g_of(y, tb))
            for x, y, ta, tb in zip(a, b, text_a, text_b)
        ),
        dtype=np.int64,
        count=len(a),
    )
    out = pd.DataFrame({"a": a, "b": b, "lcs_len": lens})
    return out[out["lcs_len"] >= g]


def _kgram_hash_buffer(
    texts: list[str], k: int
) -> tuple[np.ndarray | None, np.ndarray, np.ndarray | None]:
    """Concatenated k-gram hash buffer for a whole batch via ONE buffer:
    the polynomial hashing (the expensive part) runs as a handful of big
    chunked matmuls over all documents at once instead of one tiny BLAS
    call per document (which is call-overhead-bound at caption lengths —
    measured ~3x on the bench winnowing stage).  Windows that straddle a
    document boundary exist in the big buffer but are never indexed.

    Returns (h, byte_lens, byte_offs): doc i's valid hashes are
    ``h[byte_offs[i] : byte_offs[i] + byte_lens[i] - k + 1]``.
    ``h``/``byte_offs`` are None when the whole batch is shorter than k."""
    bufs = [t.encode("utf-8") for t in texts]
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    total = int(lens.sum())
    if total < k:
        return None, lens, None
    x = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    win = np.lib.stride_tricks.sliding_window_view(x, k)  # view, no copy
    h = np.empty(len(win), dtype=np.int64)
    for lo in range(0, len(win), _ROW_CHUNK):
        blk = np.ascontiguousarray(win[lo : lo + _ROW_CHUNK], dtype=np.float64)
        h1 = _gram_dot(blk, _M1, k)
        h2 = _gram_dot(blk, _M2, k)
        h[lo : lo + _ROW_CHUNK] = h1 * _M2 + h2
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return h, lens, offs


def _kgram_hashes_batch(texts: list[str], k: int) -> list[np.ndarray]:
    """Per-doc k-gram fingerprint arrays (thin per-doc view of the shared
    buffer from :func:`_kgram_hash_buffer`)."""
    h, lens, offs = _kgram_hash_buffer(texts, k)
    if h is None:
        return [np.empty(0, dtype=np.int64) for _ in texts]
    return [
        h[o : o + n - k + 1] if n >= k else np.empty(0, dtype=np.int64)
        for o, n in zip(offs, lens)
    ]


def _winnow_batch(
    texts: list[str], k: int, w: int
) -> tuple[np.ndarray, np.ndarray]:
    """Winnowed fingerprints for a whole batch with NO per-document Python
    loop: (doc_index, fp) arrays, docs in batch order, fps sorted + unique
    within each doc — bit-identical to the per-doc
    ``np.unique(sliding_window_view(h, w).min(axis=1))`` formulation.

    Steps, all vectorized: (1) hash every k-gram once over the concatenated
    byte buffer (:func:`_kgram_hash_buffer`); (2) gather the per-doc valid
    hashes into one contiguous buffer G (drops the boundary-straddling
    windows); (3) one chunked global window-min pass over G; (4)
    adjacent-dedupe the window-min stream IN PLACE before any sort — the
    min changes only when the minimum leaves the window or a smaller hash
    enters, so winnowing density (~2/w) shrinks the stream ~w/2 x, which
    is what keeps this cheaper than the per-doc ``np.unique`` it replaces
    (a global lexsort of ALL window mins measured 2x SLOWER than the
    loop); docs with <= w hashes take their segment min via
    ``np.minimum.reduceat``; (5) per-doc unique of the surviving ~2n/w
    values via lexsort + adjacent-difference."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    if not texts:
        return empty
    h, lens, offs = _kgram_hash_buffer(texts, k)
    if h is None:
        return empty
    nv = np.maximum(lens - k + 1, 0)  # valid hashes per doc
    total_v = int(nv.sum())
    if total_v == 0:
        return empty
    # (2) contiguous per-doc hash buffer G; starts_v = doc offsets into G;
    # doc_of/pos = per-G-position doc index and within-doc position
    starts_v = np.cumsum(nv) - nv
    doc_of = np.repeat(np.arange(len(texts), dtype=np.int64), nv)
    pos = np.arange(total_v, dtype=np.int64) - starts_v[doc_of]
    G = h[offs[doc_of] + pos]
    # (3a) small docs (0 < n <= w): segment min.  G is the concatenation of
    # exactly the nonempty docs' regions, so reduceat over their starts
    # reduces each doc's full region.
    nonempty = nv > 0
    mins_all = np.minimum.reduceat(G, starts_v[nonempty])
    small_sel = nv[nonempty] <= w
    doc_small = np.nonzero(nonempty)[0][small_sel]
    val_small = mins_all[small_sel]
    # (3b) big docs (n > w): global window-min pass; a window START at G
    # position p is in-bounds iff it lies >= w before its doc's end
    big_any = bool((nv > w).any())
    if big_any:
        n_win = total_v - w + 1
        # O(n) two-pass window min (block prefix/suffix mins): W[i] =
        # min(suffix_min_in_block(i), prefix_min_in_block(i + w - 1)) —
        # ~4 linear passes instead of the O(n*w) strided reduction
        nb = -(-(total_v) // w)
        pad = np.full(nb * w, np.iinfo(np.int64).max, dtype=np.int64)
        pad[:total_v] = G
        blocks = pad.reshape(nb, w)
        suf = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
        pre = np.minimum.accumulate(blocks, axis=1).ravel()
        W = np.minimum(suf[:n_win], pre[w - 1 : w - 1 + n_win])
        dw = doc_of[:n_win]
        valid = pos[:n_win] <= nv[dw] - w
        # (4) adjacent-dedupe within each doc's (contiguous) valid run
        keep = valid.copy()
        keep[1:] &= (
            ~valid[:-1] | (dw[1:] != dw[:-1]) | (W[1:] != W[:-1])
        )
        doc_big = dw[keep]
        val_big = W[keep]
    else:
        doc_big = np.empty(0, dtype=np.int64)
        val_big = np.empty(0, dtype=np.int64)
    # (5) per-doc sorted unique (a value can recur in non-adjacent windows)
    doc_all = np.concatenate((doc_small, doc_big))
    val_all = np.concatenate((val_small, val_big))
    order = np.lexsort((val_all, doc_all))
    d2, v2 = doc_all[order], val_all[order]
    keep2 = np.ones(len(d2), dtype=bool)
    keep2[1:] = (d2[1:] != d2[:-1]) | (v2[1:] != v2[:-1])
    return d2[keep2], v2[keep2]


def winnowed_fingerprints(
    docs: DataFrame, cfg: SubstringConfig, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, text) -> (id, fp): distinct winnowed fingerprints per doc."""
    k, w = cfg.kgram, cfg.window

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            doc_sel, fps = _winnow_batch(list(pdf[text_col]), k, w)
            if len(fps) == 0:
                yield pd.DataFrame({id_col: [], "fp": []})
                continue
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[doc_sel], "fp": fps}
            )

    out_schema = f"{id_col} {dict(docs.dtypes)[id_col]}, fp long"
    return docs.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def verify_lcs_pairs(
    cands: DataFrame, texts: DataFrame, min_len: int,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(a, b) candidates + (id, text) -> surviving (a, b) with an exact
    common substring >= min_len.  Direct per-pair text join — the right
    shape for SMALL pair sets (streaming micro-batches); the batch path
    uses the grid cogroup in substring_pairs for large ones."""
    return _join_verify(cands, texts, min_len, id_col, text_col).select("a", "b")


def _join_verify(
    cands: DataFrame, docs: DataFrame, min_len: int, id_col: str, text_col: str
) -> DataFrame:
    """(a, b) candidates -> accepted (a, b, lcs_len), both texts joined
    onto every pair and verified in one map stage."""
    side = docs.select(F.col(id_col).alias("_did"), F.col(text_col).alias("_t"))
    joined = cands.join(
        side.select(F.col("_did").alias("a"), F.col("_t").alias("_ta")), "a"
    ).join(
        side.select(F.col("_did").alias("b"), F.col("_t").alias("_tb")), "b"
    )
    a_type = dict(docs.dtypes)[id_col]

    def verify_direct(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _lcs_accepts(
                    pdf["a"], pdf["b"], pdf["_ta"], pdf["_tb"], min_len
                )

    return joined.mapInPandas(
        verify_direct, schema=f"a {a_type}, b {a_type}, lcs_len long"
    )


def substring_pairs(
    docs: DataFrame, cfg: SubstringConfig, id_col: str = "doc_id",
    text_col: str = "text", hot_threshold: int = 64, grid: int = 8,
    min_shared_fps: int = 1, caches: list | None = None,
) -> DataFrame:
    """(id, text) -> (a, b, lcs_len) pairs with an exact common substring of
    >= cfg.min_length chars.

    Building the result runs one Spark job, the scan-pair count that picks
    the verify path (plus an eager checkpoint on the grid path).  The
    candidate set stays cached until the caller's action is done: pass a
    list as ``caches`` to receive it and unpersist it afterwards.

    ``min_shared_fps`` (default 1 = exact semantics) is the scale lever for
    near-threshold-heavy corpora: require candidates to share >= m winnowed
    fingerprints before the LCS verify.  Winnowing guarantees >= m shared
    fingerprints only for common substrings of
    >= cfg.kgram + m * cfg.window - 1 bytes (81 at the 50/20 defaults with
    m=2), so pairs whose LONGEST common substring is in
    [min_length, kgram + m*window - 1) MAY be missed — a documented recall
    bound, not the operator's exact contract; the correctness gates run at
    the default m=1.

    Verify runs on a **grid of cells** (the classic blocked theta-join
    layout, Okcan & Riedewald '11): pair (a, b) lands in cell
    (hash(a) mod G, hash(b) mod G), and each document's text ships to at
    most 2G-1 cells — INDEPENDENT of how many duplicate partners it has.
    The round-3 design joined both full texts onto every candidate pair,
    so a doc with d partners shipped d times; here the shuffle carries each
    needed (cell, doc) once, and the cogrouped verify computes the doc's
    g-gram hash array once per cell instead of once per pair.  Per-cell
    memory is (docs touching the cell) x doc size — pick ``grid`` so cells
    fit an executor (G^2 cells; doubling G halves per-cell payload at the
    cost of one extra text copy per doc).

    String ids are hashed to int64 at entry and mapped back at the end
    (least/greatest restores a < b by string order), so the fingerprint
    join, candidate aggregation, and cell cogroup all move 8-byte keys —
    the same long-key discipline as the image pipeline, which already
    passes hashed ids in.  Accepts and lcs_len are id-independent, so the
    output is bit-identical either way.
    """
    if dict(docs.dtypes)[id_col] == "string":
        idmap = docs.select(F.xxhash64(id_col).alias("_h"), F.col(id_col))
        hashed = docs.select(
            F.xxhash64(id_col).alias(id_col), F.col(text_col)
        )
        out = substring_pairs(
            hashed, cfg, id_col, text_col, hot_threshold, grid,
            min_shared_fps, caches,
        )
        ma = idmap.select(F.col("_h").alias("a"), F.col(id_col).alias("_sa"))
        mb = idmap.select(F.col("_h").alias("b"), F.col(id_col).alias("_sb"))
        return (
            out.join(ma, "a").join(mb, "b")
            .select(
                F.least("_sa", "_sb").alias("a"),
                F.greatest("_sa", "_sb").alias("b"),
                "lcs_len",
            )
        )
    fps = winnowed_fingerprints(docs, cfg, id_col, text_col)
    cands = candidate_pairs(
        fps, id_col=id_col, bucket_cols=("fp",),
        hot_bucket_threshold=hot_threshold,
        min_shared_buckets=min_shared_fps,
    )
    # EQUAL-TEXT fast path, fully JVM-side: for byte-identical texts the
    # diagonal-run LCS is exactly the text's byte length (all L-g+1 grams
    # shared, one diagonal), so pairs whose (xxhash64, octet_length) match
    # are accepted with lcs_len = octet_length WITHOUT shipping texts to
    # the Python cogroup — and duplicate-heavy corpora are dominated by
    # exact caption copies, so this removes most ACCEPTED pairs (and their
    # 2G-1 text copies) from the expensive verify stage.  Equality via a
    # 64-bit hash + length is the same negligible-collision class as the
    # 62-bit gram fingerprints the candidate stage already relies on.
    # Equal texts SHORTER than min_length are exact rejects (their LCS is
    # their full length), so they skip the scan too.
    meta = docs.select(
        F.col(id_col).alias("_mid"),
        F.xxhash64(text_col).alias("_th"),
        F.octet_length(text_col).cast("long").alias("_tl"),
    )
    cands = (
        cands.join(
            meta.select(F.col("_mid").alias("a"), F.col("_th").alias("_tha"),
                        F.col("_tl").alias("_tla")), "a")
        .join(
            meta.select(F.col("_mid").alias("b"), F.col("_th").alias("_thb"),
                        F.col("_tl").alias("_tlb")), "b")
    )
    # the candidate set feeds THREE branches (equal-text accepts, the
    # cogroup pair side, and the doc-need list); materialize it ONCE with a
    # persist + count — the count also decides the verify path below, and
    # the (a, b, hash, len) rows are compact, far smaller than the
    # signature table that produced them.  The direct path leaves this
    # small cache (bounded by the fast-path threshold, a few MB) live until
    # the caller's action completes and hands it to ``caches``; the grid
    # path hands the set to a reliable checkpoint and unpersists.
    from pyspark.storagelevel import StorageLevel

    spark = docs.sparkSession
    reliable = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    if caches is not None:
        caches.append(cands)
    min_len = cfg.min_length
    a_type = dict(docs.dtypes)[id_col]
    eq = (F.col("_tha") == F.col("_thb")) & (F.col("_tla") == F.col("_tlb"))
    equal_pairs = (
        cands.filter(eq & (F.col("_tla") >= min_len))
        .select("a", "b", F.col("_tla").alias("lcs_len"))
    )
    scan_cands = cands.filter(~eq).select("a", "b")
    # SMALL scan sets skip the grid entirely: below _DIRECT_VERIFY_MAX_PAIRS
    # the 2G-1-copy cell machinery (cell checkpoint, need-list distinct,
    # doc join, two-sided cogroup) costs more than just shipping both texts
    # per pair through one map stage (a bounded ~pairs x 2 x doc-size
    # shuffle; per-doc gram arrays still cached per batch).  The count is a
    # cheap read of the cached candidate set, and the accept set is
    # identical — the grid remains the path for pair volumes a real corpus
    # produces.
    if scan_cands.count() <= _DIRECT_VERIFY_MAX_PAIRS:
        return equal_pairs.unionByName(
            _join_verify(scan_cands, docs, min_len, id_col, text_col)
        )
    # BIG sets: hand the cached candidate set to a reliable checkpoint (the
    # write job reads cached partitions, so nothing recomputes) and free
    # the cache; the grid cogroup then runs over plan-truncated inputs.
    if reliable:
        cached = cands
        cands = cached.checkpoint(eager=True)
        cached.unpersist()
        equal_pairs = (
            cands.filter(eq & (F.col("_tla") >= min_len))
            .select("a", "b", F.col("_tla").alias("lcs_len"))
        )
        scan_cands = cands.filter(~eq).select("a", "b")
    G = grid
    cells = scan_cands.select(
        "a",
        "b",
        (F.pmod(F.xxhash64("a"), F.lit(G)) * G + F.pmod(F.xxhash64("b"), F.lit(G))).alias("cell"),
    )
    # the cell table still feeds BOTH cogroup sides (pairs + the doc-need
    # list); its own checkpoint (a cheap projection of the checkpointed
    # candidate set) keeps the cogroup's two plans from sharing a live
    # subtree, which trips Spark's ambiguous-self-join analysis
    cells = cells.checkpoint(eager=False) if reliable else cells.localCheckpoint(
        eager=False
    )
    # the docs side's key is RENAMED (dcell) so the cogroup of two plans
    # sharing the `cells` subtree doesn't trip Spark's ambiguous-self-join
    # analysis; cogroup matches grouping keys positionally
    need = (
        cells.select("cell", F.explode(F.array("a", "b")).alias(id_col))
        .distinct()
    )
    cell_docs = need.join(
        docs.select(id_col, F.col(text_col).alias("_t")), id_col
    ).select(F.col("cell").alias("dcell"), id_col, "_t")

    def verify(pairs_pdf: pd.DataFrame, docs_pdf: pd.DataFrame) -> pd.DataFrame:
        texts = dict(zip(docs_pdf[id_col], docs_pdf["_t"]))
        a, b = pairs_pdf["a"], pairs_pdf["b"]
        return _lcs_accepts(a, b, a.map(texts), b.map(texts), min_len)

    scanned = (
        cells.groupby("cell")
        .cogroup(cell_docs.groupby("dcell"))
        .applyInPandas(verify, schema=f"a {a_type}, b {a_type}, lcs_len long")
    )
    return equal_pairs.unionByName(scanned)
