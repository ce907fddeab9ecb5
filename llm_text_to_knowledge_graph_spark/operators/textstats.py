"""Text analysis operators for training-data curation.

All hot-path logic is built-in column expressions (JVM, whole-stage
codegen); the only UDF is the rolling-hash fingerprint (not expressible
relationally). Each operator has a matching ANSI-SQL oracle in
__spark_entry__.oracle_sql().
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

_EN_STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "was", "for", "on", "with", "that", "this"]
_DE_STOPWORDS = ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von", "fuer"]
_FR_STOPWORDS = ["le", "la", "les", "et", "est", "un", "une", "de", "des", "dans", "pour", "que", "pas"]


def _tokens(text_col):
    return F.split(F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " ")), " ")


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (chars/3.3 heuristic floor-capped by whitespace count)."""
    toks = _tokens(F.col("text"))
    return docs.select(
        F.col("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.greatest(
            F.size(toks),
            F.floor(F.length(F.col("text")) / F.lit(3.3)).cast("int"),
        ).cast("long").alias("n_subwords_est"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality: length, punctuation ratio, stopword
    ratio, mean word length — combined into [0,1]. Pure column math."""
    t = F.col("text")
    toks = _tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    stop_arr = F.array(*[F.lit(s) for s in _EN_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / F.least(n_tok, F.lit(len(_EN_STOPWORDS)))).otherwise(F.lit(0.0))
    mean_wlen = F.when(n_tok > 0, (n_chars - n_tok + 1) / n_tok).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    wlen_score = F.when((mean_wlen >= 3) & (mean_wlen <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    score = F.round(
        0.4 * len_score + 0.2 * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
        + 0.2 * F.least(stop_ratio * 3, F.lit(1.0)) + 0.2 * wlen_score,
        6,
    )
    return docs.select(
        F.col("doc_id"),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        score.alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language id (en/de/fr/unknown) — argmax of distinct
    stopword hits per language, built-ins only."""
    toks = F.array_distinct(_tokens(F.col("text")))

    def hits(words):
        return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))

    en, de, fr = hits(_EN_STOPWORDS), hits(_DE_STOPWORDS), hits(_FR_STOPWORDS)
    best = F.greatest(en, de, fr)
    lang = (
        F.when(best == F.lit(0), F.lit("unknown"))
        .when(en == best, F.lit("en"))
        .when(de == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return docs.select(
        F.col("doc_id"), en.alias("en_hits"), de.alias("de_hits"), fr.alias("fr_hits"),
        lang.alias("lang_pred"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprints: md5 (portable, oracle-checkable) plus a
    64-bit polynomial rolling hash of the normalized text (UDF — winnowing
    building block)."""

    @F.pandas_udf(LongType())
    def _rolling(texts: pd.Series) -> pd.Series:
        def roll(t: str) -> int:
            h = 0
            for ch in " ".join((t or "").split()):
                h = (h * 1000003 + ord(ch)) & 0xFFFFFFFFFFFFFFFF
            return h - (1 << 64) if h >= (1 << 63) else h

        return texts.map(roll)

    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return docs.select(
        F.col("doc_id"),
        F.md5(norm).alias("md5_fp"),
        _rolling(F.col("text")).alias("rolling_fp"),
    )


# ---------------------------------------------------------------------------
# round 3: Gopher-style quality rules + n-gram repetition statistics
# ---------------------------------------------------------------------------

# the Gopher paper's required-stopword list (Rae et al. 2021, §A.1.1)
_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021, §A.1.1) — the
    standard web-scale pretraining-corpus cleaning pass, as pure column
    expressions (zero Python, one map-only stage):

    * word count within [50, 100000]
    * mean word length within [3, 10]
    * symbol-to-word ratio (# or ellipsis) <= 0.1
    * >= 80% of words contain at least one alphabetic character
    * >= 2 distinct words from the required stop-word list

    Returns one row per doc with each rule's boolean and the overall
    ``pass`` conjunction; filter-pushdown-friendly (callers filter on
    ``pass`` and Catalyst prunes the rule columns they don't read)."""
    t = F.col("text")
    toks = _tokens(t)
    n_tok = F.size(toks)
    word_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    mean_wlen = F.when(n_tok > 0, word_chars / n_tok).otherwise(F.lit(0.0))
    n_hash = F.size(F.split(t, "#", -1)) - 1
    n_ellipsis = F.size(F.split(t, r"\.\.\.", -1)) - 1
    sym_ratio = F.when(n_tok > 0, (n_hash + n_ellipsis) / n_tok).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    alpha_frac = F.when(n_tok > 0, n_alpha / n_tok).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))

    ok_words = (n_tok >= 50) & (n_tok <= 100_000)
    ok_wlen = (mean_wlen >= 3.0) & (mean_wlen <= 10.0)
    ok_sym = sym_ratio <= 0.1
    ok_alpha = alpha_frac >= 0.8
    ok_stop = n_stop >= 2
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_tok.cast("long").alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        ok_words.alias("ok_words"),
        ok_wlen.alias("ok_word_len"),
        ok_sym.alias("ok_symbols"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_wlen & ok_sym & ok_alpha & ok_stop).alias("pass"),
    )


def repetition_stats(docs: DataFrame, n: int = 2) -> DataFrame:
    """Within-document n-gram repetition (the Gopher/C4 repetition-removal
    signal): per doc, the total n-gram count, the occurrence count of the
    most frequent n-gram, its fraction, and the fraction of n-gram
    occurrences whose gram appears more than once.

    Shape at scale: explode n-grams -> ONE partial-agg groupBy
    (doc_id, gram) -> ONE groupBy(doc_id). Both aggregations map-side
    combine; no joins, no windows. Docs are the natural partition key so
    skew equals the longest document, not a hot token."""
    toks = _tokens(F.col("text"))
    grams = F.expr(
        f"transform(sequence(0, size(`tk`) - {n}),"
        f" i -> concat_ws(' ', slice(`tk`, i + 1, {n})))"
    )
    per_gram = (
        docs.select(F.col("doc_id"), toks.alias("tk"))
        .filter(F.size(F.col("tk")) >= n)
        .select(F.col("doc_id"), F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.max("cnt").alias("top_gram_count"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_occurrences"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("top_gram_count").cast("long").alias("top_gram_count"),
            F.round(F.col("top_gram_count") / F.col("n_grams"), 6).alias("top_gram_frac"),
            F.round(F.col("dup_occurrences") / F.col("n_grams"), 6).alias("dup_gram_frac"),
        )
    )
