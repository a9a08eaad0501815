"""Text-analysis operators for training-data pipelines.

No reference analog (the reference is pure vector LSH); these are the
standard corpus-curation passes a 100 TB text/image-caption pipeline runs
alongside dedup.  All are pure JVM column expressions (whole-stage codegen,
no Python), each with a DuckDB-expressible twin for the oracle gate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# tiny built-in stopword/profile tables (public knowledge, language-ID by
# stopword hit-rate; the container has no langdetect libs)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "de": ("der", "die", "und", "das", "von", "mit", "den", "ist", "des", "ein"),
    "fr": ("le", "la", "les", "de", "des", "et", "est", "une", "dans", "pour"),
}


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, chars, and a
    BPE-ish subword estimate (ceil(chars/4) per token, the common ~4
    chars/token heuristic) — all JVM expressions."""
    toks = f"split({text_col}, ' ')"
    return docs.select(
        F.col(id_col),
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr(f"size(array_distinct({toks}))").alias("n_distinct_tokens"),
        F.expr(f"length({text_col})").alias("n_chars"),
        F.expr(
            f"aggregate({toks}, cast(0 as bigint), "
            f"(acc, t) -> acc + cast(ceil(length(t) / 4.0) as bigint))"
        ).alias("n_subwords_est"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: mean word length, stopword ratio,
    alphabetic ratio, repetition ratio (1 - distinct/total tokens).
    Mirrors the usual Gopher/C4-style filters; JVM-only."""
    toks = f"split({text_col}, ' ')"
    en = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    return docs.select(
        F.col(id_col),
        F.expr(f"round(length({text_col}) / size({toks}), 4)").alias("mean_word_len"),
        F.expr(
            f"round(size(filter({toks}, t -> t in ({en}))) / size({toks}), 4)"
        ).alias("stopword_ratio"),
        F.expr(
            f"round(length(regexp_replace({text_col}, '[^a-zA-Z ]', '')) / "
            f"length({text_col}), 4)"
        ).alias("alpha_ratio"),
        F.expr(
            f"round(1.0 - size(array_distinct({toks})) / size({toks}), 4)"
        ).alias("repetition_ratio"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Language ID by stopword hit-rate over a 4-language marker table;
    deterministic argmax with language-code tie-break."""
    toks = f"split({text_col}, ' ')"
    hits = []
    for lang, words in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        hits.append(
            f"struct(size(filter({toks}, t -> t in ({lst}))) as score, "
            f"'{lang}' as lang)"
        )
    # array_max on structs: max score, then max lang — invert lang for
    # deterministic *ascending* tie-break
    return docs.select(
        F.col(id_col),
        F.expr(
            "array_max(array("
            + ", ".join(hits)
            + ")).lang"
        ).alias("lang_pred"),
    )


def doc_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bottom_k: int = 8
) -> DataFrame:
    """Document fingerprinting: bottom-k sketch of word 3-shingle hashes
    (a rolling-hash winnowing analog that is exactly SQL-expressible).
    Two docs' fingerprints overlap iff they share low-hash shingles.

    Output is exploded to (doc_id, rank, hash) scalar rows — rank 1 = the
    smallest hash — so the sketch is canonical for row-wise comparison."""
    from ..functions.hashing import spark_hash62

    fp = docs.select(
        F.col(id_col),
        F.expr(
            f"slice(array_sort(transform({shingle_expr_sql(text_col, 3)}, "
            f"s -> {spark_hash62('s')})), 1, {bottom_k})"
        ).alias("fingerprint"),
    )
    return fp.select(
        id_col, F.posexplode("fingerprint").alias("pos", "hash")
    ).select(
        id_col, F.expr("cast(pos + 1 as bigint)").alias("rank"), "hash"
    )


def shingle_expr_sql(text_col: str, k: int) -> str:
    """Word k-shingle array expression (Spark SQL).  Documents with <= k
    tokens yield one whole-text shingle (matches oracle/minhash.shingles)."""
    toks = f"split({text_col}, ' ')"
    return (
        f"case when size({toks}) <= {k} then array({text_col}) "
        f"else array_distinct(transform(sequence(0, size({toks}) - {k}), "
        f"i -> concat_ws(' ', slice({toks}, i + 1, {k})))) end"
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style (Rae et al. '21 §A1.1) intra-document repetition
    filters, token-denominated: the occupancy of the most frequent word
    2-gram and the fraction of 5-gram positions that are duplicates.
    Training pipelines drop documents above thresholds on these (boiler-
    plate, keyword stuffing, generation loops).

    Both statistics are computed INSIDE one Arrow-batched map stage with a
    C-speed Counter pass per document — zero shuffle, so the pass is an
    embarrassingly-parallel scan at any corpus size (no per-gram
    explode/groupBy; the gram space never leaves the task).  Rounds <= 6
    built per-row gram string arrays and folded them with interpreted JVM
    HOF aggregates (array_sort + run-length) — measured 5.8 s at sf0.1 for
    ~0.1 s of actual counting work (guide §4.2: hand whole batches to
    native code instead of per-element interpreted expressions).  Gram
    equality over token TUPLES equals equality over the ' '-joined gram
    strings because tokens cannot contain the separator."""
    from collections import Counter
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            n_t = np.empty(len(pdf), dtype=np.int64)
            top2 = np.zeros(len(pdf), dtype=np.int64)
            dup5 = np.zeros(len(pdf), dtype=np.int64)
            for i, t in enumerate(pdf[text_col].fillna("")):
                toks = t.split(" ")
                n = len(toks)
                n_t[i] = n
                if n >= 2:
                    c2 = Counter(zip(toks, toks[1:]))
                    top2[i] = max(c2.values())
                if n >= 5:
                    c5 = Counter(
                        zip(toks, toks[1:], toks[2:], toks[3:], toks[4:])
                    )
                    dup5[i] = sum(v for v in c5.values() if v > 1)
            # same IEEE double ops as the SQL CASE arms: exact int->double
            # conversions, one division (divisor clamps only guard the
            # discarded branch of np.where)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "n_tokens": n_t,
                    "top_2gram_count": top2,
                    "dup_5gram_positions": dup5,
                    "top_2gram_frac": np.where(
                        n_t >= 2, top2 * 2.0 / np.maximum(n_t, 1), 0.0
                    ),
                    "dup_5gram_frac": np.where(
                        n_t >= 5,
                        dup5 / np.maximum(n_t - 4, 1).astype(np.float64),
                        0.0,
                    ),
                }
            )

    id_type = dict(docs.dtypes)[id_col]
    return docs.select(id_col, text_col).mapInPandas(
        run,
        schema=(
            f"{id_col} {id_type}, n_tokens long, top_2gram_count long, "
            "dup_5gram_positions long, top_2gram_frac double, "
            "dup_5gram_frac double"
        ),
    )
