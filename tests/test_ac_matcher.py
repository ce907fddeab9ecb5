"""The trie-compiled alias matcher gives exactly the matches of a flat
alternation sorted by alias length, on any input.

``FlatAlternation`` below is the reference semantics: every top-1 alias in
one ``|`` alternation, longest first, inside the same word-boundary frame
(the matcher's former small-dictionary engine, kept here verbatim). Each
matcher and reference is built once per module, not per example.
"""

import random
import re
import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from llm_text_to_knowledge_graph_spark.operators.mentions import (
    AliasMatcher,
    WorkerMatcher,
    _top1,
)


class FlatAlternation:
    """Leftmost-longest by a length-desc flat alternation of the aliases."""

    def __init__(self, rows):
        self.lookup = _top1(rows)
        ordered = sorted(self.lookup, key=len, reverse=True)
        pattern = "|".join(re.escape(a) for a in ordered)
        self.rx = re.compile(rf"(?<![\w-])({pattern})(?![\w-])") if ordered else None

    def find(self, text):
        if self.rx is None:
            return []
        return [
            (m.start(), m.end(), m.group(1), *self.lookup[m.group(1)])
            for m in self.rx.finditer(text)
        ]


def _pair(rows):
    """(matcher, reference) over the same rows."""
    m = AliasMatcher(rows)
    assert m.engine == "regex"
    return m, FlatAlternation(rows)


ROWS = [
    ("spark", "V", "1", "SPARK", 1.0),
    ("spark sql", "V", "2", "SPARK_SQL", 1.0),
    ("spark sql engine", "V", "3", "SSE", 1.0),
    ("sql", "V", "4", "SQL", 0.9),
    ("a+b", "V", "5", "APLUSB", 1.0),
    ("b", "V", "6", "B", 0.5),
    ("b", "W", "7", "B2", 0.9),  # ambiguous surface form, top-1 by prior
    ("été", "V", "8", "ETE", 1.0),  # unicode alias
    ("ab cd", "V", "9", "ABCD", 1.0),
    ("ab", "V", "10", "AB", 1.0),
]

WEIRD_ROWS = ROWS + [
    ("(+)-cat", "V", "11", "PCAT", 1.0),  # starts with a non-[\w-] char
    ("+b", "V", "12", "PLUSB", 1.0),
    ("(ab", "V", "13", "PAB", 1.0),
]

TRICKY = [
    "spark sql engine beats spark sql beats spark beats sql",
    "sparky is not spark, but spark-sql has hyphens",
    "a+b and a+bc and b alone and étéX vs été ok",
    "ab cdX falls back to ab; ab cd stands alone",
    "bbbb b b,b",
    "",
    "no hits at all here",
    "spark sql engin",  # prefix of a long alias, shorter must win
    "it ends with ab",  # "ab cd" must not be matched past the text end
    "ab c",
]

TRIE, REF = _pair(ROWS)
WEIRD_TRIE, WEIRD_REF = _pair(WEIRD_ROWS)


def _pairs(m, texts):
    return [m.find(t) for t in texts]


def test_engines_agree_on_tricky_corpus():
    assert _pairs(TRIE, TRICKY) == _pairs(REF, TRICKY)
    # and they actually match things
    assert any(any(f) for f in _pairs(TRIE, TRICKY))
    assert TRIE.find("it ends with ab") == [(13, 15, "ab", "V", "10", "AB", 1.0)]
    assert [f[2] for f in TRIE.find(TRICKY[0])] == [
        "spark sql engine", "spark sql", "spark", "sql",
    ]


def test_top1_disambiguation_identical():
    got = TRIE.find("b")
    assert got == REF.find("b")
    assert got[0][5] == "B2"  # prior 0.9 beats 0.5


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet=" abcdeé+-_,.()", min_size=0, max_size=60),
)
def test_engines_agree_property(text):
    assert TRIE.find(text) == REF.find(text)


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet=" abcdeé+-_,.()t", min_size=0, max_size=60),
)
def test_engines_agree_weird_alias_property(text):
    """Aliases that start with a non-word char sit in the trie like any
    other: the lookbehind frame, not the first char, anchors them."""
    assert WEIRD_TRIE.find(text) == WEIRD_REF.find(text)


def test_engines_agree_random_dictionary():
    rng = random.Random(7)
    alphabet = string.ascii_lowercase[:6] + " -"
    rows = []
    for i in range(400):
        alias = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6))).strip()
        if alias:
            rows.append((alias, "R", str(i), alias.upper(), rng.random()))
    m, ref = _pair(rows)
    for _ in range(300):
        text = "".join(rng.choice(alphabet + "xyz,.") for _ in range(rng.randint(0, 80)))
        assert m.find(text) == ref.find(text), text


def test_every_dictionary_size_builds_the_trie():
    """One engine at every size: no threshold switches the matcher."""
    rows = [(f"alias{i}", "V", str(i), f"A{i}", 1.0) for i in range(3000)]
    text = "alias7 and alias1999 and alias2048x and alias2999"
    for n in (10, 2047, 2048, 3000):
        m, ref = _pair(rows[:n])
        assert m.find(text) == ref.find(text)
    assert [f[2] for f in m.find(text)] == ["alias7", "alias1999", "alias2999"]


def test_trie_matches_reference_on_pathological_sharing():
    """Every alias shares the first token "tnf" (2,348 aliases): the trie
    factors the shared prefix once and still matches the reference."""
    rows = [
        (f"tnf {'x' * (i % 7)} v{i}", "V", str(i), f"A{i}", 1.0)
        for i in range(2348)
    ]
    m, ref = _pair(rows)
    text = "tnf " * 2000 + "tnf x v1 and tnf  v0 and tnf xx v2340 tnf"
    got = m.find(text)
    assert got == ref.find(text)
    assert [f[2] for f in got] == ["tnf x v1", "tnf  v0", "tnf xx v2340"]


def test_prefix_chain_400_deep_matches_reference():
    """a, aa, ..., a*400: each alias a prefix of the next nests the trie
    400 groups deep; it compiles and keeps the longest valid alias."""
    rows = [("a" * i, "V", str(i), f"A{i}", 1.0) for i in range(1, 401)]
    m, ref = _pair(rows)
    for text in ("a" * 400, "a" * 401, "a" * 399 + " a-" + " aaa." + " " + "a" * 400):
        assert m.find(text) == ref.find(text)
    assert [f[1] - f[0] for f in m.find("a" * 400 + " aa")] == [400, 2]


def test_empty_lexicon_finds_nothing():
    m = AliasMatcher([])
    assert m.engine == "regex"
    assert m.find("") == [] and m.find("anything at all, even  spaces ") == []


def test_chain_past_the_nesting_limit_raises_value_error():
    """A chain deeper than the regex parser's recursion limit fails at
    build with a ValueError naming that limit, not a RecursionError."""
    rows = [("a" * i, "V", str(i), f"A{i}", 1.0) for i in range(1, 601)]
    with pytest.raises(ValueError, match="recursion limit"):
        AliasMatcher(rows)


def test_worker_cache_is_keyed_by_lexicon_content(spark):
    """Equal rows share one cache key and one built matcher; rows that
    differ, even in one prior, get their own."""
    rows = list(ROWS)
    a, b = WorkerMatcher(spark, rows), WorkerMatcher(spark, list(ROWS))
    assert a.key == b.key
    assert a() is b()
    changed = rows[:-1] + [rows[-1][:4] + (0.5,)]
    c = WorkerMatcher(spark, changed)
    assert c.key != a.key
    assert c() is not a()
    assert c().lookup["ab"][3] == 0.5 and a().lookup["ab"][3] == 1.0
