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

import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructField, StructType

from ..functions.bel import split_statement
from ..schemas import MENTIONS, PARAGRAPHS, TRIPLES
from ..sources.html_extract import extract_paragraphs_text, split_sentences
from .extraction import extract_from_block, normalize_block_text
from .mentions import _get_matcher, mention_structs
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


def block_statements(para: str, matcher) -> list[tuple[str, str]]:
    """The block engine's per-paragraph step: normalise, ground, extract
    -> [(bel_statement, evidence)]."""
    para = normalize_block_text(para)
    return extract_from_block(para, mention_structs(matcher.find(para)))


def extract_document(
    html: bytes | None, text: str | None, matcher, engine: str, sentences: bool
) -> Iterator[tuple[int, str, list, list]]:
    """Yield ``(para_idx, paragraph, sentences, results)`` per paragraph:
    ``sentences`` = [(sent_idx, sentence, mentions)] (left empty by the block
    engine unless ``sentences``), ``results`` = [(sent_idx, subj, pred, obj,
    bel_statement, evidence)]. Sentence-engine parts come pre-split
    (property-tested equal to ``split_statement``); block statements carry
    ``sent_idx = 0`` (evidence spans the paragraph)."""
    block = engine == "block"
    for para_idx, para in enumerate(extract_paragraphs_text(html, text)):
        sents, results = [], []
        if sentences or not block:
            for sent_idx, sentence in enumerate(split_sentences(para)):
                mentions = mention_structs(matcher.find(sentence))
                sents.append((sent_idx, sentence, mentions))
                if not block:
                    for parts in extract_parts_from_sentence(sentence, mentions):
                        results.append((sent_idx, *parts))
        if block:
            results = [
                (0, *split_statement(stmt), stmt, evidence)
                for stmt, evidence in block_statements(para, matcher)
            ]
        yield para_idx, para, sents, results


def extract_fused(
    pages: DataFrame,
    alias_rows: list,
    engine: str = "sentence",
    shape: str = "triples",
    lang: str | None = "en",
) -> DataFrame:
    """pages -> ``shape`` rows (``triples`` | ``paragraphs``) with the
    ``engine`` extractor (``sentence`` | ``block``), one Python crossing.

    ``lang`` filters pages before the crossing (``None`` keeps all)."""
    if engine not in ("sentence", "block"):
        raise ValueError(f"unknown extractor engine {engine!r}")
    schema = _SHAPES[shape]
    flat = shape == "triples"
    cols = schema.fieldNames()
    bc = pages.sparkSession.sparkContext.broadcast(list(alias_rows))
    token = uuid.uuid4().hex

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = _get_matcher(bc, token)
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

    src = pages.filter(F.col("lang") == lang) if lang is not None else pages
    return src.mapInPandas(run, schema=schema)


def extract_triples_fused(pages: DataFrame, alias_rows: list) -> DataFrame:
    """pages -> TRIPLES with the sentence engine."""
    return extract_fused(pages, alias_rows, engine="sentence")


def extract_triples_fused_block(pages: DataFrame, alias_rows: list) -> DataFrame:
    """pages -> TRIPLES with the extended block engine
    (``extraction.extract_from_block``: coordination, displaced-agent
    passives, nominalizations, fold continuation, knockout inference) — the
    engine that earns the real-gold recall."""
    return extract_fused(pages, alias_rows, engine="block")
