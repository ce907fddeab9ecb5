"""Byte-pair-encoding tokenizer — real token counts for the curation ops.

``token_count``'s chars/3.3 heuristic (operators/textstats.py) is fine for
coarse filters, but sequence packing (curation.pack_greedy) and context-
window chunking (curation.chunk_docs) budget against a REAL tokenizer at
training time; a mis-estimated count silently over/under-fills sequences.
This module provides the standard two-phase shape:

  * :func:`bpe_train` — fit merge rules on a corpus SAMPLE. Training is
    inherently sequential (each merge changes the pair statistics the
    next merge ranks on, n_merges tiny iterations), so it runs
    driver-side on a collected, size-capped sample — the same fit-on-
    sample/score-at-scale split as the IVF quantizer (similarity.py) and
    the quality classifier (quality_model.py). Deterministic: pair ranks
    tie-break lexicographically, so the same sample yields byte-identical
    merges on any machine.
  * :func:`bpe_encode_df` — apply the frozen merge table corpus-wide: ONE
    Arrow crossing (mapInPandas), merges broadcast as a plain dict, output
    (doc_id, n_tokens, tokens?). Per-word results are memoized per batch
    (web text repeats words heavily), and the merge loop is the classic
    greedy lowest-rank-pair reduction.

The vocabulary contract mirrors GPT-2-style BPE on WORDS: words are
whitespace-split then lower-cased, each word becomes a char sequence with
a trailing end-of-word marker, merges apply in rank order. No external
vocab files — everything derives from the training sample (public
algorithm: Sennrich et al. 2016)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"


def _word_syms(word: str) -> tuple[str, ...]:
    return tuple(word[:-1]) + (word[-1] + EOW,) if word else ()


def bpe_train(docs: DataFrame, n_merges: int = 200) -> list[tuple[str, str]]:
    """Fit ``n_merges`` BPE merge rules on (the 2000 most frequent words of)
    the corpus. Returns the ordered merge list — a plain, serializable
    value (store it next to the corpus; the tokenizer IS this list).

    The sample collects ``(word, count)`` AGGREGATES, not raw text: the
    driver sees at most 2000 distinct words regardless of
    corpus size, and Spark does the heavy word counting as one
    explode + partial-agg groupBy."""
    words = (
        docs.select(
            F.explode(
                F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(2000)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        _word_syms(r["w"]): r["c"] for r in words
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        # deterministic rank: highest count, then lexicographic pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-pair merge loop (the reference BPE algorithm) —
    pure function of (word, merge table)."""
    syms = list(_word_syms(word))
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode_df(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize the corpus with a frozen merge table: (doc_id, n_words,
    n_tokens). ONE mapInPandas crossing; the merge table rides
    in the closure (KBs — broadcast-by-serialization is fine at this
    size), and per-word encodings are memoized per batch, so the Python
    cost is per DISTINCT word, not per occurrence."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    schema = "doc_id long, n_words long, n_tokens long"

    def enc(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                words = str(text).lower().split()
                toks: list[str] = []
                for w in words:
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = bpe_encode_word(w, ranks)
                    toks.extend(got)
                rows.append((did, len(words), len(toks)))
            yield pd.DataFrame(rows, columns=["doc_id", "n_words", "n_tokens"])

    return docs.select("doc_id", "text").mapInPandas(enc, schema=schema)
