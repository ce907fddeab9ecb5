"""The two alias-matcher engines give identical matches on any input.

``AliasMatcher`` picks its engine by dictionary size alone: the alternation
``regex`` below ``_TOK_THRESHOLD`` aliases, the token-index ``tok`` at and
above it. Each parity test pads one copy of its dictionary with aliases no
test text contains, so ``tok`` runs through the same auto-selection as in
production; ``regex`` is the reference semantics.
"""

import random
import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from llm_text_to_knowledge_graph_spark.operators.mentions import (
    _TOK_THRESHOLD,
    AliasMatcher,
)

# no test text contains an upper-case P, so none of these ever matches
PAD = [(f"PAD{i:04d}", "P", str(i), f"PAD{i}", 1.0) for i in range(_TOK_THRESHOLD)]


def _engines(rows):
    """(regex, tok) matchers over the same effective dictionary."""
    rx, tok = AliasMatcher(rows), AliasMatcher(rows + PAD)
    assert (rx.engine, tok.engine) == ("regex", "tok")
    return rx, tok


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

TRICKY = [
    "spark sql engine beats spark sql beats spark beats sql",
    "sparky is not spark, but spark-sql has hyphens",
    "a+b and a+bc and b alone and étéX vs été ok",
    "ab cdX falls back to ab; ab cd stands alone",
    "bbbb b b,b",
    "",
    "no hits at all here",
    "spark sql engin",  # prefix of a long alias, shorter must win
    "it ends with ab",  # "ab cd" must not be probed past the text end
    "ab c",
]


def _pairs(m, texts):
    return [m.find(t) for t in texts]


def test_engines_agree_on_tricky_corpus():
    rx, tok = _engines(ROWS)
    assert _pairs(rx, TRICKY) == _pairs(tok, TRICKY)
    # and they actually match things
    assert any(any(f) for f in _pairs(tok, TRICKY))
    assert tok.find("it ends with ab") == [(13, 15, "ab", "V", "10", "AB", 1.0)]


def test_top1_disambiguation_identical():
    rx, tok = _engines(ROWS)
    got_rx = rx.find("b")
    got_tok = tok.find("b")
    assert got_rx == got_tok
    assert got_rx[0][5] == "B2"  # prior 0.9 beats 0.5


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet=" abcdeé+-_,.()", min_size=0, max_size=60),
)
def test_engines_agree_property(text):
    rx, tok = _engines(ROWS)
    assert rx.find(text) == tok.find(text)


WEIRD_ROWS = ROWS + [
    ("(+)-cat", "V", "11", "PCAT", 1.0),  # starts with a non-[\w-] char
    ("+b", "V", "12", "PLUSB", 1.0),
    ("(ab", "V", "13", "PAB", 1.0),
]


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet=" abcdeé+-_,.()t", min_size=0, max_size=60),
)
def test_engines_agree_weird_alias_property(text):
    """Aliases that start with a non-word char exercise the token-index
    engine's lookahead sweep + merged greedy tail."""
    rx, tok = _engines(WEIRD_ROWS)
    assert rx.find(text) == tok.find(text)


def test_engines_agree_random_dictionary():
    rng = random.Random(7)
    alphabet = string.ascii_lowercase[:6] + " -"
    rows = []
    for i in range(400):
        alias = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6))).strip()
        if alias:
            rows.append((alias, "R", str(i), alias.upper(), rng.random()))
    rx, tok = _engines(rows)
    for _ in range(300):
        text = "".join(rng.choice(alphabet + "xyz,.") for _ in range(rng.randint(0, 80)))
        assert rx.find(text) == tok.find(text), text


def _regex_over_hits(rows, text):
    """The regex engine over the rows whose alias occurs in ``text``: the
    reference matches of a dictionary too big for the regex engine."""
    m = AliasMatcher([r for r in rows if r[0] in text])
    assert m.engine == "regex"
    return m.find(text)


def test_auto_threshold_selects_tok():
    rows = [(f"alias{i}", "V", str(i), f"A{i}", 1.0) for i in range(_TOK_THRESHOLD)]
    assert AliasMatcher(rows).engine == "tok"
    assert AliasMatcher(rows[:-1]).engine == "regex"
    assert AliasMatcher(rows[:10]).engine == "regex"
    # identical results any way
    text = "alias7 and alias1999 and alias2048x"
    assert AliasMatcher(rows).find(text) == _regex_over_hits(rows, text)
    assert [f[2] for f in AliasMatcher(rows).find(text)] == ["alias7", "alias1999"]


class CountingLookup(dict):
    """The alias -> entity dict, counting the probes the matcher makes."""

    probes = 0

    def get(self, key, default=None):
        self.probes += 1
        return super().get(key, default)


def test_tok_probes_are_bounded_on_pathological_sharing():
    """Every alias shares the first token "tnf": a text repeating "tnf"
    costs at most one probe per distinct alias length per token, not one
    per alias, and no second engine is needed to stay worst-case safe."""
    rows = [
        (f"tnf {'x' * (i % 7)} v{i}", "V", str(i), f"A{i}", 1.0)
        for i in range(_TOK_THRESHOLD + 300)
    ]
    m = AliasMatcher(rows)
    assert m.engine == "tok"
    text = "tnf " * 2000 + "tnf x v1 and tnf  v0 and tnf xx v2340 tnf"
    m.lookup = CountingLookup(m.lookup)
    got = m.find(text)
    assert got == _regex_over_hits(rows, text)
    assert [f[2] for f in got] == ["tnf x v1", "tnf  v0", "tnf xx v2340"]
    n_tokens = len(re.findall(r"[\w-]+", text))
    n_lengths = len({len(r[0]) for r in rows})
    assert 0 < m.lookup.probes <= n_tokens * n_lengths
