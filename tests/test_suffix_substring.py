"""Suffix array / LCP / winnowing / substring-pair operator tests."""

import numpy as np
import pytest

from lsh_project_spark.config import SubstringConfig
from lsh_project_spark.functions.suffix import (
    lcp_array,
    longest_common_substring_len,
    suffix_array,
)
from lsh_project_spark.operators.substring import (
    _kgram_hashes,
    substring_pairs,
    winnowed_fingerprints,
)


def _naive_sa(s):
    return np.array(sorted(range(len(s)), key=lambda i: s[i:]), dtype=np.int64)


@pytest.mark.parametrize("text", ["banana", "mississippi", "abcabcabc", "zzzz", "a"])
def test_suffix_array_matches_naive(text):
    s = np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64)
    assert (suffix_array(s) == _naive_sa(text)).all()


def test_suffix_array_random():
    rng = np.random.Generator(np.random.PCG64(5))
    for _ in range(5):
        s = rng.integers(0, 4, size=200)
        text = "".join("abcd"[i] for i in s)
        assert (suffix_array(s) == _naive_sa(text)).all()


def test_lcp_array():
    text = "banana"
    s = np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64)
    sa = suffix_array(s)
    lcp = lcp_array(s, sa)
    # sa: a, ana, anana, banana, na, nana -> lcp: 0,1,3,0,0,2
    assert list(lcp) == [0, 1, 3, 0, 0, 2]


def _naive_lcs(a, b):
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


@pytest.mark.parametrize(
    "a,b",
    [
        ("hello world", "goodbye world"),
        ("abcdef", "xyz"),
        ("the quick brown fox", "a quick brown cat"),
        ("", "abc"),
        ("same", "same"),
    ],
)
def test_lcs_exact(a, b):
    assert longest_common_substring_len(a, b) == _naive_lcs(a, b)


def test_winnowing_guarantee():
    """Any shared substring >= min_length must share a fingerprint."""
    cfg = SubstringConfig(min_length=50, kgram=20)
    rng = np.random.Generator(np.random.PCG64(9))

    def rand_text(n):
        return "".join("abcdefgh "[i] for i in rng.integers(0, 9, n))

    shared = rand_text(60)  # > min_length
    a = rand_text(100) + shared + rand_text(80)
    b = rand_text(50) + shared + rand_text(120)
    ha = _kgram_hashes(a, cfg.kgram)
    hb = _kgram_hashes(b, cfg.kgram)

    def winnow(h, w):
        win = np.lib.stride_tricks.sliding_window_view(h, w)
        return set(np.unique(win.min(axis=1)).tolist())

    assert winnow(ha, cfg.window) & winnow(hb, cfg.window)


def test_substring_pairs_spark(spark):
    cfg = SubstringConfig(min_length=50, kgram=20)
    shared = "the quick brown fox jumps over the lazy dog and then runs far away home"
    docs = [
        (0, "prefix one " + shared + " suffix alpha"),
        (1, "totally different beginning " + shared),
        (2, "no overlap here at all just some random words repeated random words"),
        (3, "another completely unrelated document about spark and parquet files"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["a"], r["b"]): r["lcs_len"] for r in substring_pairs(df, cfg).collect()}
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] >= len(shared)


def test_substring_pairs_match_brute_force(spark):
    """substring_pairs accepts exactly the pairs a brute-force oracle does
    (exact LCS over all pairs, kept when >= min_length bytes), with the
    same lcs_len.  Equal texts take their UTF-8 byte length, and equal
    texts shorter than min_length are rejected."""
    from itertools import combinations

    cfg = SubstringConfig(min_length=50, kgram=20)
    shared = "the quick brown fox jumps over the lazy dog and then runs far away home"
    accented = "déjà vu: ünïcödé text that repeats itself across two documents ✓"
    docs = [
        (0, "prefix one " + shared + " suffix alpha"),
        (1, "totally different beginning " + shared),
        (2, "no overlap here at all just some random words repeated random words"),
        (3, "another completely unrelated document about spark and parquet files"),
        (4, "prefix one " + shared + " suffix alpha"),
        (5, shared[:40] + " and an ending that is not shared by anyone else"),
        (6, accented),
        (7, accented),
        (8, "short equal text"),
        (9, "short equal text"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["a"], r["b"], r["lcs_len"])
        for r in substring_pairs(df, cfg).collect()
    }
    want = set()
    for (a, ta), (b, tb) in combinations(docs, 2):
        n = longest_common_substring_len(ta, tb)
        if n >= cfg.min_length:
            want.add((a, b, n))
    assert got == want
    assert {(a, b) for a, b, _ in want} == {(0, 1), (0, 4), (1, 4), (6, 7)}
    assert (6, 7, len(accented.encode("utf-8"))) in got


def test_building_substring_pairs_runs_no_job_and_caches_nothing(spark):
    cfg = SubstringConfig(min_length=50, kgram=20)
    docs = [(f"d{i}", f"document {i} " + "shared tail text " * 5) for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    df.count()
    spark.catalog.clearCache()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    substring_pairs(df, cfg)
    # the tracker forgets old jobs, so compare only what is new
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_winnowed_fingerprints_deterministic(spark):
    cfg = SubstringConfig()
    docs = [(0, "abcdefghijklmnopqrstuvwxyz " * 5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = sorted(r["fp"] for r in winnowed_fingerprints(df, cfg).collect())
    b = sorted(r["fp"] for r in winnowed_fingerprints(df, cfg).collect())
    assert a == b and len(a) > 0


def test_diagonal_run_lcs_matches_suffix_array_oracle():
    """The vectorized pair verifier (diagonal runs over shared g-gram
    positions) must agree exactly with the generalized-suffix-array LCS
    whenever LCS >= g, and return 0 when the docs share no g-gram."""
    import random
    import string

    from lsh_project_spark.operators.substring import lcs_len_via_diagonal_runs

    rng = random.Random(7)

    def rnd(n):
        return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))

    for _ in range(60):
        g = rng.choice([10, 20, 50])
        a, b = rnd(rng.randint(g, 300)), rnd(rng.randint(g, 300))
        if rng.random() < 0.7:  # plant a shared block most of the time
            sub = rnd(rng.randint(g, 100))
            pa, pb = rng.randint(0, len(a)), rng.randint(0, len(b))
            a, b = a[:pa] + sub + a[pa:], b[:pb] + sub + b[pb:]
        truth = longest_common_substring_len(a, b)
        got = lcs_len_via_diagonal_runs(a, b, g)
        assert got == (truth if truth >= g else 0)


def test_diagonal_run_lcs_low_entropy_fallback():
    """Repetitive docs (quadratic shared-gram sets) route through the SA
    fallback and still return the exact LCS."""
    from lsh_project_spark.operators import substring as S

    a, b = "ab" * 3000, "ab" * 2500
    old_cap = S._DIAG_MATCH_CAP
    S._DIAG_MATCH_CAP = 1000  # force the fallback at test size
    try:
        assert S.lcs_len_via_diagonal_runs(a, b, 50) == longest_common_substring_len(a, b)
    finally:
        S._DIAG_MATCH_CAP = old_cap


def test_substring_only_duplicate_clusters_together(spark):
    """A pair whose ONLY duplicate signal is a shared >=50-char caption
    substring (phash far apart, shingle Jaccard < 0.5) lands in one cluster
    exactly when the substring modality is OR-unioned into the pipeline
    (PipelineConfig.substring_enabled; round-4 integration)."""
    from lsh_project_spark.config import PipelineConfig
    from lsh_project_spark.pipeline import dedup_pipeline

    shared = "an exactly matching span of well over fifty characters kept verbatim"
    assert len(shared) >= 50
    capa = " ".join(f"aw{i}" for i in range(40)) + " " + shared
    capb = " ".join(f"bw{i}" for i in range(40)) + " " + shared
    rows = [
        ("x1", capa, 0),
        ("x2", capb, (1 << 62) - 1),  # Hamming(phash) = 62 >> tau
        ("x3", "totally unrelated caption with its own words", 12345),
    ]
    images = spark.createDataFrame(
        rows, "image_id string, caption string, phash long"
    )

    asg_on = {
        r["image_id"]: r["cluster_id"]
        for r in dedup_pipeline(images, PipelineConfig()).assignments.collect()
    }
    assert asg_on["x1"] == asg_on["x2"]
    assert asg_on["x3"] != asg_on["x1"]

    asg_off = {
        r["image_id"]: r["cluster_id"]
        for r in dedup_pipeline(
            images, PipelineConfig(substring_enabled=False)
        ).assignments.collect()
    }
    assert asg_off["x1"] != asg_off["x2"]


def test_winnow_batch_matches_per_doc_formulation():
    """The fully-batched winnow (one global window-min pass + lexsort
    unique) must be bit-identical — values AND row order — to the per-doc
    ``np.unique(sliding_window_view(h, w).min(axis=1))`` formulation it
    replaced, across unicode, empty, sub-k, exactly-w and low-entropy
    documents."""
    from lsh_project_spark.operators.substring import (
        _kgram_hashes_batch,
        _winnow_batch,
    )

    def per_doc(texts, k, w):
        ids, fps = [], []
        for i, h in enumerate(_kgram_hashes_batch(texts, k)):
            if len(h) == 0:
                continue
            if len(h) <= w:
                sel = np.array([h.min()])
            else:
                win = np.lib.stride_tricks.sliding_window_view(h, w)
                sel = np.unique(win.min(axis=1))
            ids.append(np.full(len(sel), i))
            fps.append(sel)
        if not ids:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(ids), np.concatenate(fps)

    rng = np.random.Generator(np.random.PCG64(7))
    alpha = list("abcdefgh éü∆")
    cases = [[], [""], ["short", "", "x" * 19, "y" * 20, "z" * 21, "q" * 500],
             ["abc" * 100, "abc" * 100]]
    for _ in range(15):
        cases.append([
            "".join(rng.choice(alpha, size=int(rng.integers(0, 300))))
            for _ in range(int(rng.integers(0, 10)))
        ])
    for k, w in [(20, 31), (5, 4), (3, 1), (8, 100)]:
        for texts in cases:
            a_doc, a_fp = per_doc(texts, k, w)
            b_doc, b_fp = _winnow_batch(texts, k, w)
            assert np.array_equal(a_doc, b_doc), (k, w, texts)
            assert np.array_equal(a_fp, b_fp), (k, w, texts)
