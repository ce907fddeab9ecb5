"""The extraction kernel: pages -> triples in ONE Python crossing.

``extract_document`` is the per-document loop as one pure function: html
-> paragraphs -> (sentences | normalised block) -> mentions -> statements
-> BEL parts. ``extract_fused`` runs it in a single ``mapInPandas`` and
ships one of two shapes: flat TRIPLES rows (the crawl hot path), or one
PARA_EXTRACT row per paragraph, of which every ``run_pipeline`` stage is a
projection or explode. tests/test_fused.py pins both shapes to the
modular one-UDF-per-stage operators.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructField, StructType

from ..functions.bel import split_statement
from ..schemas import MENTIONS, PARAGRAPHS, TRIPLES
from ..sources.html_extract import extract_paragraphs_text, split_sentences
from .extraction import extract_from_block, normalize_block_text, original_spans
from .mentions import WorkerMatcher, mention_structs
from .statements import extract_parts_from_sentence

# a paragraph row nests the per-sentence fields of MENTIONS (sent_idx,
# sentence, mentions) and of TRIPLES (sent_idx, subj, pred, obj,
# bel_statement, evidence; the parts are NULL when a statement does not split)
_SENTENCE = StructType(MENTIONS.fields[3:])
_RESULT = StructType(TRIPLES.fields[3:])
_SENTENCE_KEYS, _RESULT_KEYS = _SENTENCE.fieldNames(), _RESULT.fieldNames()

PARA_EXTRACT = StructType(
    PARAGRAPHS.fields
    + [
        StructField("sentences", ArrayType(_SENTENCE), False),
        StructField("results", ArrayType(_RESULT), False),
    ]
)

_SHAPES = {"triples": TRIPLES, "paragraphs": PARA_EXTRACT}


def ground_block(para: str, matcher) -> tuple[str, list, list[tuple[str, str]]]:
    """The block engine's per-paragraph step, one grounding pass: normalise,
    ``matcher.find`` once, extract -> (normalised text, find tuples over it,
    [(bel_statement, evidence)])."""
    text = normalize_block_text(para)
    found = matcher.find(text)
    return text, found, extract_from_block(text, mention_structs(found))


def _block_sentences(para: str, found: list) -> list[tuple[int, str, list]]:
    """[(sent_idx, sentence, mentions)] of a block paragraph: each sentence of
    ``para`` gets the ``found`` spans (over ``para``, in begin order) that lie
    inside it, re-based to the sentence. A span that crosses a sentence
    boundary belongs to no sentence."""
    out, pos, i = [], 0, 0
    for sent_idx, sentence in enumerate(split_sentences(para)):
        # sentences are non-empty stripped pieces of para, in order, and
        # only whitespace lies between them
        start = para.index(sentence, pos)
        pos = start + len(sentence)
        inside = []
        while i < len(found) and found[i][0] < pos:
            begin, end = found[i][0], found[i][1]
            if begin >= start and end <= pos:
                inside.append((begin - start, end - start, *found[i][2:]))
            i += 1
        out.append((sent_idx, sentence, mention_structs(inside)))
    return out


def extract_document(
    html: bytes | None, text: str | None, matcher, engine: str, sentences: bool
) -> Iterator[tuple[int, str, list, list]]:
    """Yield ``(para_idx, paragraph, sentences, results)`` per paragraph:
    ``sentences`` = [(sent_idx, sentence, mentions)] (left empty by the block
    engine unless ``sentences``), ``results`` = [(sent_idx, subj, pred, obj,
    bel_statement, evidence)]. Sentence-engine parts come pre-split
    (property-tested equal to ``split_statement``).

    The sentence engine grounds each sentence. The block engine grounds each
    paragraph once (``ground_block``) and its statements carry
    ``sent_idx = 0`` (evidence spans the paragraph); the block mentions come
    from that same pass, mapped back to the paragraph's own text
    (``original_spans``) and split over its sentences. A block mention that
    covers a space ``normalize_block_text`` inserted, or that crosses a
    sentence boundary, feeds the statements but no sentence."""
    for para_idx, para in enumerate(extract_paragraphs_text(html, text)):
        sents, results = [], []
        if engine == "block":
            norm, found, stmts = ground_block(para, matcher)
            if sentences:
                sents = _block_sentences(para, original_spans(para, norm, found))
            results = [
                (0, *split_statement(stmt), stmt, evidence)
                for stmt, evidence in stmts
            ]
        else:
            for sent_idx, sentence in enumerate(split_sentences(para)):
                mentions = mention_structs(matcher.find(sentence))
                sents.append((sent_idx, sentence, mentions))
                for parts in extract_parts_from_sentence(sentence, mentions):
                    results.append((sent_idx, *parts))
        yield para_idx, para, sents, results


def extract_fused(
    pages: DataFrame,
    alias_rows: list,
    engine: str = "sentence",
    shape: str = "triples",
) -> DataFrame:
    """English pages -> ``shape`` rows (``triples`` | ``paragraphs``) with
    the ``engine`` extractor (``sentence`` | ``block``), one Python
    crossing; the ``lang = 'en'`` filter runs before the crossing."""
    if engine not in ("sentence", "block"):
        raise ValueError(f"unknown extractor engine {engine!r}")
    schema = _SHAPES[shape]
    flat = shape == "triples"
    cols = schema.fieldNames()
    get_matcher = WorkerMatcher(pages.sparkSession, alias_rows)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = get_matcher()
        for pdf in batches:
            rows = []
            for url, warc_ts, html, text in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"]
            ):
                for para_idx, para, sents, results in extract_document(
                    html, text, matcher, engine, sentences=not flat
                ):
                    if flat:
                        rows.extend(
                            (url, warc_ts, para_idx, *r)
                            for r in results
                            if r[1] and r[2] and r[3]
                        )
                    else:
                        rows.append((
                            url, warc_ts, para_idx, para,
                            [dict(zip(_SENTENCE_KEYS, s)) for s in sents],
                            [dict(zip(_RESULT_KEYS, r)) for r in results],
                        ))
            # an empty batch stays object-typed here, which Arrow casts to
            # every declared type (a dict of empty lists would be float64)
            yield pd.DataFrame.from_records(rows, columns=cols)

    return pages.filter(F.col("lang") == "en").mapInPandas(run, schema=schema)


def extract_triples_fused(pages: DataFrame, alias_rows: list) -> DataFrame:
    """pages -> TRIPLES with the sentence engine."""
    return extract_fused(pages, alias_rows, engine="sentence")
