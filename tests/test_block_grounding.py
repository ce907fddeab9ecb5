"""The block engine grounds each paragraph once: its statements and its
sentences/mentions rows come from the same ``matcher.find`` over the
normalised paragraph, with mention offsets mapped back to the extracted
text."""

import datetime as dt
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from llm_text_to_knowledge_graph_spark.eval.real_gold import REAL_LEXICON
from llm_text_to_knowledge_graph_spark.operators.extraction import (
    extract_from_block,
    normalize_block_text,
)
from llm_text_to_knowledge_graph_spark.operators.fused import (
    extract_document,
    ground_block,
)
from llm_text_to_knowledge_graph_spark.operators.mentions import (
    AliasMatcher,
    _top1,
    mention_structs,
)
from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline
from llm_text_to_knowledge_graph_spark.schemas import PAGES
from llm_text_to_knowledge_graph_spark.sources.html_extract import split_sentences

# one-sentence pages whose entities the word-boundary matcher sees only
# after normalize_block_text ("Prolactin-mediated", "EGF-induced",
# "JAK2-/-", "Stat5a-GFP")
PAGE_TEXTS = [
    "Prolactin-mediated activation of Stat5 was observed in mammary epithelial cells.",
    "EGF-induced activation of Stat5a was lost in JAK2-/- cells.",
    "In JAK2-/- cells, EGF-induced Stat5a-GFP translocation was absent.",
    "JAK2 activates Stat5b in mammary epithelial cells.",
]


def _entities(*rows):
    return [(alias, "HGNC", str(i), name, 1.0) for i, (alias, name) in enumerate(rows)]


def _block_rows(text, matcher):
    """[(sent_idx, sentence, [(begin, end, alias)])] and the statements of
    the block kernel over one text paragraph."""
    [(_pi, _para, sents, results)] = extract_document(None, text, matcher, "block", True)
    rows = [
        (i, s, [(m["begin"], m["end"], m["alias"]) for m in ms]) for i, s, ms in sents
    ]
    return rows, [r[4] for r in results]


@pytest.mark.parametrize("mode", ["lazy", "checkpointed"])
def test_block_pipeline_nodes_have_urls(spark, tmp_path, mode):
    """Every node of a block run has the URL of a mention the same run
    found; at one grounding pass per sentence "Prolactin" and "EGF" were
    never mentions, so p(HGNC:PRL) and p(HGNC:EGF) had no URL."""
    ts = dt.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(f"u://{i}", ts, None, t, "en") for i, t in enumerate(PAGE_TEXTS)],
        schema=PAGES,
    )
    out = run_pipeline(
        spark, pages, REAL_LEXICON, extractor="block",
        workdir=str(tmp_path) if mode == "checkpointed" else None,
    )
    nodes = {r["name"]: r["url"] for r in out["nodes"].collect()}
    assert {"p(HGNC:PRL)", "p(HGNC:EGF)", "p(HGNC:JAK2)"} <= set(nodes)
    assert all(nodes.values()), nodes
    prolactin = [
        (r["url"], r["sent_idx"], r["begin"], r["end"])
        for r in out["flat_mentions"].filter("alias = 'Prolactin'").collect()
    ]
    assert prolactin == [("u://0", 0, 0, 9)]


class CountingMatcher:
    def __init__(self, matcher):
        self.matcher, self.calls = matcher, 0

    def find(self, text):
        self.calls += 1
        return self.matcher.find(text)


@pytest.mark.parametrize("sentences", [True, False])
def test_block_branch_finds_once_per_paragraph(sentences):
    text = "\n\n".join([
        "Prolactin-mediated activation of Stat5 was seen. JAK2 binds Stat5a. EGF acts.",
        "JAK2 phosphorylates Stat5b in cells. Prolactin activates JAK2 in cells.",
    ])
    matcher = CountingMatcher(AliasMatcher(REAL_LEXICON))
    paras = list(extract_document(None, text, matcher, "block", sentences))
    assert len(paras) == 2
    assert sum(len(sents) for _pi, _p, sents, _r in paras) == (5 if sentences else 0)
    assert matcher.calls == 2


def test_mention_over_an_inserted_space_feeds_statements_only():
    """An alias that covers the space normalisation inserts ("Stat5a -GFP"
    over "Stat5a-GFP") has no span in the extracted text: no mention row,
    but the statement still names it."""
    matcher = AliasMatcher(_entities(
        ("Stat5a -GFP", "STAT5AGFP"), ("Stat5a", "STAT5A"), ("EGF", "EGF"),
    ))
    text = "EGF phosphorylates Stat5a-GFP."
    sents, stmts = _block_rows(text, matcher)
    assert sents == [(0, text, [(0, 3, "EGF")])]
    assert stmts == ["p(HGNC:EGF) directlyIncreases p(HGNC:STAT5AGFP, pmod(Ph))"]


def test_mention_across_a_sentence_boundary_feeds_statements_only():
    """split_sentences cuts after "Fig."; the block engine's own sentence
    spans do not, so "Fig. 5A kinase" is one entity of the statement but
    lies in no sentence row."""
    matcher = AliasMatcher(_entities(("Fig. 5A kinase", "FIGK"), ("Stat5", "STAT5")))
    text = "Fig. 5A kinase activates Stat5."
    sents, stmts = _block_rows(text, matcher)
    assert sents == [(0, "Fig.", []), (1, "5A kinase activates Stat5.", [(20, 25, "Stat5")])]
    assert stmts == ["p(HGNC:FIGK) increases p(HGNC:STAT5)"]


LEX = _entities(
    ("Stat5", "STAT5"), ("Stat5a", "STAT5A"), ("EGF", "EGF"), ("JAK2", "JAK2"),
    ("Prolactin", "PRL"), ("prolactin receptor", "PRLR"), ("IGF-I", "IGF1"),
)
WORDS = [a for a, *_ in LEX] + ["activates", "binds", "cells", "of", "in", "the"]
MATCHER = AliasMatcher(LEX)
# the aliases of LEX as a flat alternation sorted by length: the
# leftmost-longest reference the trie-compiled matcher must equal
REF_LOOKUP = _top1(LEX)
REF_RX = re.compile(
    r"(?<![\w-])("
    + "|".join(re.escape(a) for a in sorted(REF_LOOKUP, key=len, reverse=True))
    + r")(?![\w-])"
)


def _reference_find(text):
    return [
        (m.start(), m.end(), m.group(1), *REF_LOOKUP[m.group(1)])
        for m in REF_RX.finditer(text)
    ]


SUFFIXES = ["-induced", "-mediated", "- induced", "−dependent", "-/-", "-GFP", "–HA"]


def _paragraph(parts):
    return "Here " + " ".join(w + suffix + end for w, suffix, end in parts) + "."


PART = st.tuples(
    st.sampled_from(WORDS),
    st.sampled_from([""] * 3 + SUFFIXES),
    st.sampled_from(["", "", ",", ".", "!"]),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(PART, min_size=5, max_size=25))
def test_block_mentions_sit_at_their_alias(parts):
    """With compound suffixes, knockout markers and tags injected, every
    block mention row spells its alias at its offsets in its sentence, and
    the statements are those of the one normalised pass, whose matches
    equal the reference's."""
    text = _paragraph(parts)
    sents, stmts = _block_rows(text, MATCHER)
    assert [s for _i, s, _ms in sents] == split_sentences(text)
    for _i, sentence, ms in sents:
        for begin, end, alias in ms:
            assert sentence[begin:end] == alias
    norm, found, pairs = ground_block(text, MATCHER)
    assert norm == normalize_block_text(text)
    assert found == _reference_find(norm)
    assert pairs == extract_from_block(norm, mention_structs(found))
    assert stmts == [stmt for stmt, _ev in pairs]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(WORDS), st.just(""), st.sampled_from(["", ",", "."])),
        min_size=5, max_size=25,
    ),
)
def test_block_mentions_equal_per_sentence_grounding(parts):
    """Where normalisation changes nothing and no alias spans a sentence
    end, the one paragraph pass gives each sentence exactly the mentions a
    per-sentence ``find`` gives (the modular reference's rule)."""
    text = _paragraph(parts)
    assert normalize_block_text(text) == text
    sents, _stmts = _block_rows(text, MATCHER)
    assert sents == [
        (i, s, [f[:3] for f in _reference_find(s)])
        for i, s in enumerate(split_sentences(text))
    ]
