"""portable hash62: all four renderings (scalar Python, vectorized numpy,
Spark SQL, DuckDB SQL) must agree BIT-IDENTICALLY on adversarial strings —
including trailing U+0000, where numpy's fixed-width UCS4 buffer cannot
distinguish content from padding (regression: a sentinel char now makes the
numpy rendering exact; round-3 advice item)."""

import duckdb
import numpy as np
import pytest

from lsh_project_spark.functions.hashing import (
    _CHUNK_CHAR_BUDGET,
    duckdb_hash62,
    portable_hash62_np,
    portable_hash62_py,
    spark_hash62,
)

# DuckDB's string_split cannot represent NUL chars (utf8 text layer), so the
# SQL engines are pinned on the printable subset; numpy-vs-python covers NUL.
PRINTABLE = ["", "a", "img0", "img2", "hello world", "é π 漢", "x" * 300]
NULLY = ["a\x00", "a\x00\x00", "\x00", "\x00a", "a\x00b", "a\x01\x00", "\x01"]


def test_numpy_matches_python_on_trailing_nul():
    got = portable_hash62_np(PRINTABLE + NULLY)
    for s, g in zip(PRINTABLE + NULLY, got):
        assert int(g) == portable_hash62_py(s), repr(s)


def test_numpy_distinguishes_trailing_nul_from_stripped():
    a, b = portable_hash62_np(["a", "a\x00"])
    assert int(a) != int(b)


def test_chunk_budget_bounds_padded_matrix():
    # one multi-megabyte outlier among short shingles: the chunker must
    # close on rows * padded-width, not summed length (round-3 advice)
    big = "z" * (_CHUNK_CHAR_BUDGET // 2)
    mix = ["ab"] * 50_000 + [big] + ["cd"] * 50_000
    got = portable_hash62_np(mix)
    assert int(got[0]) == portable_hash62_py("ab")
    assert int(got[50_000]) == portable_hash62_py(big)
    assert int(got[-1]) == portable_hash62_py("cd")


def test_spark_sql_rendering_matches_python(spark):
    df = spark.createDataFrame([(s,) for s in PRINTABLE], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.selectExpr("s", f"{spark_hash62('s')} as h").collect()
    }
    for s in PRINTABLE:
        assert got[s] == portable_hash62_py(s), repr(s)


def test_duckdb_rendering_matches_python():
    con = duckdb.connect()
    for s in PRINTABLE:
        lit = "'" + s.replace("'", "''") + "'"
        (h,) = con.execute(f"SELECT {duckdb_hash62(lit)}").fetchone()
        assert int(h) == portable_hash62_py(s), repr(s)


def test_salted_lane_composition_matches_concat_hash():
    # salted_hash62_np derives hash62(salt + s) from s's polynomial lanes
    # (lane(salt+s) = lane(salt)*B^len(s) + lane(s) mod M) — must equal
    # hashing the concatenated string bit for bit, including empty strings
    # and non-ASCII (the SimHash second-fingerprint fast path)
    from lsh_project_spark.functions.hashing import salted_hash62_np

    strs = PRINTABLE + NULLY
    h62, l1, l2 = portable_hash62_np(strs, return_lanes=True)
    lens = np.array([len(s) for s in strs], dtype=np.int64)
    for salt in ("s2:", "", "π:"):
        got = salted_hash62_np(salt, l1, l2, lens)
        want = portable_hash62_np([salt + s for s in strs])
        assert np.array_equal(got, want), salt


def test_shingle_hash_block_matches_direct_hash():
    # the factorize-based block decomposition must reproduce, per doc, the
    # exact multiset of shingle hashes a direct per-doc hash would produce
    from lsh_project_spark.functions.textsig import (
        shingle_hash_block,
        shingle_set,
    )

    texts = [
        "a b c d e", "a b c", "x", "", "a b c d e f g", "a b c d e",
        # empty tokens (consecutive separators), unicode, heavy repeats,
        # short-doc text equal to a long doc's gram
        "a  b  c d", "é π 漢 é π 漢 a", "x y z x y z x y z", "b c d",
    ]
    blk = shingle_hash_block(texts, 3)
    for i, t in enumerate(texts):
        seg = blk.inv[blk.starts[i] : blk.starts[i] + blk.lengths[i]]
        got = sorted(int(x) for x in blk.h62[seg])
        want = sorted(int(x) for x in portable_hash62_np(shingle_set(t, 3)))
        assert got == want, t


def test_shingle_hash_block_keeps_nul_tokens_distinct():
    # a token or short text with an embedded NUL must not collapse onto its
    # prefix: 'a\x00b' is its own token, and 'a', 'a\x00' and 'a\x00b' are
    # three short-doc shingles
    from lsh_project_spark.functions.textsig import (
        shingle_hash_block,
        shingle_set,
    )

    texts = ["a b c d e f", "a\x00b b c d e f", "a", "a\x00", "a\x00b"]
    blk = shingle_hash_block(texts, 5)
    per_doc = []
    for i, t in enumerate(texts):
        seg = blk.inv[blk.starts[i] : blk.starts[i] + blk.lengths[i]]
        got = sorted(int(x) for x in blk.h62[seg])
        want = sorted(int(x) for x in portable_hash62_np(shingle_set(t, 5)))
        assert got == want, repr(t)
        per_doc.append(set(got))
    assert per_doc[0] != per_doc[1]
    assert len({frozenset(s) for s in per_doc[2:]}) == 3
