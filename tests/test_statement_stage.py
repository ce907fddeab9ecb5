"""The STATEMENTS stage: each statement operator is its pure per-row
function applied row by row, the co-occurrence rule is callable on its own,
and every run's workers ground with that run's own lexicon."""

import datetime as dt

from pyspark.sql.types import ArrayType, StructField, StructType

from llm_text_to_knowledge_graph_spark.operators.extraction import (
    extract_statements_extended,
)
from llm_text_to_knowledge_graph_spark.operators.fused import ground_block
from llm_text_to_knowledge_graph_spark.operators.mentions import (
    AliasMatcher,
    detect_mentions,
    mention_structs,
)
from llm_text_to_knowledge_graph_spark.operators.statements import (
    cooccurrence_from_sentence,
    extract_cooccurrence,
    extract_from_sentence,
    extract_statements,
)
from llm_text_to_knowledge_graph_spark.schemas import MENTION, MENTIONS, STATEMENTS

TS = dt.datetime(2024, 1, 1)
LEX = [
    ("AKT1", "HGNC", "391", "AKT1", 1.0),
    ("HSF1", "HGNC", "5224", "HSF1", 1.0),
    ("TP53", "HGNC", "11998", "TP53", 1.0),
]
# same surface forms, other entries: a run that saw LEX would ground differently
LEX_OTHER = [
    ("AKT1", "HGNC", "392", "AKT2", 1.0),
    ("HSF1", "HGNC", "5225", "HSF2", 1.0),
]
# MENTIONS with a nullable mentions array, so a NULL one can be fed in
_MENTIONS_NULLABLE = StructType(
    MENTIONS.fields[:5] + [StructField("mentions", ArrayType(MENTION), True)]
)


def _m(begin, end, name):
    return {"begin": begin, "end": end, "db": "HGNC", "entry_name": name}


def test_cooccurrence_needs_two_mentions():
    assert cooccurrence_from_sentence("AKT1.", None) == []
    assert cooccurrence_from_sentence("AKT1.", []) == []
    assert cooccurrence_from_sentence("AKT1.", [_m(0, 4, "AKT1")]) == []


def test_cooccurrence_skips_adjacent_same_entity():
    s = "AKT1 and AKT1 bind HSF1."
    ms = [_m(0, 4, "AKT1"), _m(9, 13, "AKT1"), _m(19, 23, "HSF1")]
    assert cooccurrence_from_sentence(s, ms) == [
        ("p(HGNC:AKT1) association p(HGNC:HSF1)", s)
    ]


def test_cooccurrence_emits_a_repeated_pair_once():
    s = "AKT1 binds HSF1; AKT1 binds HSF1."
    ms = [_m(0, 4, "AKT1"), _m(11, 15, "HSF1"), _m(17, 21, "AKT1"), _m(28, 32, "HSF1")]
    assert cooccurrence_from_sentence(s, ms) == [
        ("p(HGNC:AKT1) association p(HGNC:HSF1)", s),
        ("p(HGNC:HSF1) association p(HGNC:AKT1)", s),
    ]


def test_cooccurrence_sorts_mentions_by_begin():
    s = "TP53 and AKT1 bind HSF1."
    ms = [_m(0, 4, "TP53"), _m(9, 13, "AKT1"), _m(19, 23, "HSF1")]
    assert cooccurrence_from_sentence(s, ms[::-1]) == cooccurrence_from_sentence(s, ms)
    assert [st for st, _ in cooccurrence_from_sentence(s, ms)] == [
        "p(HGNC:TP53) association p(HGNC:AKT1)",
        "p(HGNC:AKT1) association p(HGNC:HSF1)",
    ]


def _mention_rows():
    matcher = AliasMatcher(LEX)
    rows = [
        ("u1", TS, 0, 0, "AKT1 phosphorylates HSF1."),
        ("u1", TS, 0, 1, "AKT1 and HSF1 were measured."),  # no pattern statement
        ("u2", TS, 1, 0, "Nothing to ground here."),  # empty mentions
        ("u2", TS, 1, 2, "AKT1 binds HSF1; AKT1 binds HSF1."),
    ]
    out = [r + (mention_structs(matcher.find(r[4])),) for r in rows]
    return out + [("u3", None, 2, 3, "AKT1 phosphorylates HSF1.", None)]


def _expected(rows, fn):
    return sorted(
        (url, ts, p, s, st, ev)
        for url, ts, p, s, text, ms in rows
        for st, ev in fn(text, ms)
    )


def _collected(df):
    assert df.columns == STATEMENTS.fieldNames()
    return sorted(tuple(r) for r in df.collect())


def test_sentence_operators_equal_their_row_functions(spark):
    rows = _mention_rows()
    mentions = spark.createDataFrame(rows, schema=_MENTIONS_NULLABLE).repartition(2)
    for op, fn in (
        (extract_statements, extract_from_sentence),
        (extract_cooccurrence, cooccurrence_from_sentence),
    ):
        want = _expected(rows, fn)
        assert want and len({r[:4] for r in want}) < len(rows)
        assert _collected(op(mentions)) == want, op.__name__


def test_block_operator_equals_its_row_function(spark):
    """sent_idx is 0 whatever the input carries (here a sent_idx of 7)."""
    matcher = AliasMatcher(LEX)
    rows = [(url, ts, p, text) for url, ts, p, _s, text, _ms in _mention_rows()]
    paras = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, para_idx int, text string"
    ).selectExpr("*", "7 AS sent_idx").repartition(2)
    want = sorted(
        (url, ts, p, 0, st, ev)
        for url, ts, p, text in rows
        for st, ev in ground_block(text, matcher)[2]
    )
    assert want and len({r[:3] for r in want}) < len(rows)
    assert _collected(extract_statements_extended(paras, LEX)) == want


def test_each_run_sees_only_its_own_lexicon(spark):
    """Two runs in one session, both planned before either executes: each
    worker grounds with the lexicon of the run whose task it executes."""
    text = "AKT1 phosphorylates HSF1."
    sents = spark.createDataFrame(
        [("u", TS, 0, 0, text)],
        "url string, warc_ts timestamp, para_idx int, sent_idx int, sentence string",
    ).coalesce(1)
    paras = sents.withColumnRenamed("sentence", "text")
    runs = {
        names: (detect_mentions(sents, lex), extract_statements_extended(paras, lex))
        for names, lex in (("AKT1 HSF1", LEX), ("AKT2 HSF2", LEX_OTHER))
    }
    for names in ["AKT1 HSF1", "AKT2 HSF2", "AKT1 HSF1"]:
        mentions, statements = runs[names]
        subj, obj = names.split()
        got = [m["entry_name"] for r in mentions.collect() for m in r["mentions"]]
        assert got == [subj, obj]
        assert [r["bel_statement"] for r in statements.collect()] == [
            f"p(HGNC:{subj}) directlyIncreases p(HGNC:{obj}, pmod(Ph))"
        ]
