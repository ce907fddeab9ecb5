"""The extraction kernel must be row-identical to the modular operator chain
(paragraphs UDF -> sentence split -> mention UDF -> statement UDF -> BEL
split), in every shape it ships and in both run_pipeline modes."""

import datetime as dt

import pytest

from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df
from llm_text_to_knowledge_graph_spark.operators.extraction import (
    extract_statements_extended,
)
from llm_text_to_knowledge_graph_spark.operators.fused import (
    PARA_EXTRACT,
    extract_fused,
)
from llm_text_to_knowledge_graph_spark.operators.graph import (
    annotation_map,
    build_edges,
    build_nodes,
)
from llm_text_to_knowledge_graph_spark.operators.mentions import (
    detect_mentions,
    explode_mentions,
)
from llm_text_to_knowledge_graph_spark.operators.paragraphs import (
    extract_paragraphs,
    split_into_sentences,
)
from llm_text_to_knowledge_graph_spark.operators.statements import extract_statements
from llm_text_to_knowledge_graph_spark.operators.triples import parse_triples
from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline
from llm_text_to_knowledge_graph_spark.schemas import PAGES, TRIPLES

TRIPLE_COLS = [
    "url", "para_idx", "sent_idx", "subj", "pred", "obj", "bel_statement", "evidence",
]
STAGE_COLS = {
    "paragraphs": ["url", "para_idx", "text"],
    "sentences": ["url", "para_idx", "sent_idx", "sentence"],
    "flat_mentions": ["url", "para_idx", "sent_idx", "begin", "end", "alias", "db",
                      "id", "entry_name", "score"],
    "statements": ["url", "para_idx", "sent_idx", "bel_statement", "evidence"],
    "triples": TRIPLE_COLS,
}
CHECKPOINT_STAGES = {
    "sentence": ["paragraphs", "sentences", "mentions", "statements", "triples",
                 "flat_mentions", "nodes", "edges"],
    "block": ["paragraphs", "sentences", "mentions", "flat_mentions",
              "statements_block", "triples", "nodes", "edges"],
}
ALIAS_ROWS = build_alias_rows(5)


def rows(df, cols):
    return sorted(tuple(r) for r in df.select(cols).collect())


def modular(pages, alias_rows, extractor):
    """The reference: one Spark operator (and one Python UDF) per stage."""
    paragraphs = extract_paragraphs(pages)
    sentences = split_into_sentences(paragraphs)
    mentions = detect_mentions(sentences, alias_rows)
    if extractor == "sentence":
        statements = extract_statements(mentions)
    else:
        statements = extract_statements_extended(paragraphs, alias_rows)
    return {
        "paragraphs": paragraphs,
        "sentences": sentences,
        "mentions": mentions,
        "flat_mentions": explode_mentions(mentions),
        "statements": statements,
        "triples": parse_triples(statements),
    }


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    # materialized: the synthetic generator is itself a MapInPandas node
    path = str(tmp_path_factory.mktemp("fused") / "pages")
    pages_df(spark, 40, seed=5).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def reference(pages):
    cache = {}

    def get(extractor):
        if extractor not in cache:
            ref = modular(pages, ALIAS_ROWS, extractor)
            cache[extractor] = {k: rows(ref[k], c) for k, c in STAGE_COLS.items()}
        return cache[extractor]

    return get


def _assert_fused_equals_modular(pages, reference, extractor):
    fused = extract_fused(pages, ALIAS_ROWS, engine=extractor)
    assert fused.schema == TRIPLES
    got = rows(fused, TRIPLE_COLS)
    assert got == reference(extractor)["triples"]
    assert len(got) > 50


def test_fused_equals_modular(pages, reference):
    _assert_fused_equals_modular(pages, reference, "sentence")


def test_fused_block_equals_modular_block(pages, reference):
    _assert_fused_equals_modular(pages, reference, "block")


def test_fused_lazy_pipeline_stages_equal_modular(spark, pages, reference):
    """Lazy run_pipeline derives every stage from one crossing; for both
    extractors each must match the modular composition row-for-row."""
    for extractor in ("sentence", "block"):
        fast = run_pipeline(spark, pages, ALIAS_ROWS, extractor=extractor)
        ref = reference(extractor)
        for name, cols in STAGE_COLS.items():
            assert rows(fast[name], cols) == ref[name], (extractor, name)
        assert fast["metrics"] == []

        # graph tables built on top agree too (content-addressed ids)
        slow = modular(pages, ALIAS_ROWS, extractor)
        nodes = build_nodes(
            slow["triples"], annotation_map(slow["flat_mentions"]), id_strategy="hash"
        )
        edges = build_edges(slow["triples"], id_strategy="hash")
        node_cols = ["node_id", "name", "label", "type", "url"]
        assert rows(fast["nodes"], node_cols) == rows(nodes, node_cols)
        edge_cols = ["edge_id", "s", "t", "interaction", "bel_expression"]
        assert rows(fast["edges"], edge_cols) == rows(edges, edge_cols)


@pytest.mark.parametrize("extractor", ["sentence", "block"])
def test_checkpointed_pipeline_tables_equal_modular(
    spark, pages, reference, extractor, tmp_path
):
    """Checkpointed run_pipeline commits views of one persisted kernel
    output: every committed table equals the modular composition, and the
    stage list keeps its names and order."""
    out = run_pipeline(
        spark, pages, ALIAS_ROWS, workdir=str(tmp_path / "wd"), extractor=extractor
    )
    assert [m["stage"] for m in out["metrics"]] == CHECKPOINT_STAGES[extractor]
    assert not any(m["resumed"] for m in out["metrics"])
    ref = reference(extractor)
    for name, cols in STAGE_COLS.items():
        assert rows(out[name], cols) == ref[name], name
    counts = {m["stage"]: m["rows"] for m in out["metrics"]}
    assert counts["triples"] == len(ref["triples"])


def _assert_single_crossing(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # map-only: no shuffle before the sink


def test_fused_lazy_single_python_crossing(spark, pages):
    for extractor in ("sentence", "block"):
        _assert_single_crossing(
            run_pipeline(spark, pages, ALIAS_ROWS, extractor=extractor)["triples"]
        )


def test_fused_block_single_python_crossing(pages):
    for engine in ("sentence", "block"):
        _assert_single_crossing(extract_fused(pages, ALIAS_ROWS, engine=engine))


def _empty_pages(spark, kind):
    ts = dt.datetime(2024, 1, 1)
    if kind == "non_en":
        data = [(f"u://{i}", ts, None, "AKT1 phosphorylates HSF1.", "de")
                for i in range(6)]
    elif kind == "no_paragraphs":
        data = [("u://blank", ts, None, "", "en"), ("u://null", ts, None, None, "en"),
                ("u://html", ts, b"<html><body></body></html>", None, "en")]
    else:  # no_mentions
        data = [(f"u://{i}", ts, None, "Nothing to ground here.\n\nOr here.", "en")
                for i in range(6)]
    return spark.createDataFrame(data, schema=PAGES).repartition(3)


@pytest.mark.parametrize("kind", ["non_en", "no_paragraphs", "no_mentions"])
@pytest.mark.parametrize("shape", ["triples", "paragraphs"])
@pytest.mark.parametrize("engine", ["sentence", "block"])
def test_empty_output_keeps_declared_schema(spark, engine, shape, kind):
    df = extract_fused(_empty_pages(spark, kind), ALIAS_ROWS, engine=engine, shape=shape)
    assert df.schema == {"triples": TRIPLES, "paragraphs": PARA_EXTRACT}[shape]
    got = df.collect()
    if shape == "paragraphs" and kind == "no_mentions":
        # paragraphs and sentences survive; nothing is grounded or extracted
        assert {r["url"] for r in got} == {f"u://{i}" for i in range(6)}
        assert all(s["mentions"] == [] for r in got for s in r["sentences"])
        assert all(r["results"] == [] for r in got)
    else:
        assert got == []
