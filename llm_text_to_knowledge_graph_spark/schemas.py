"""Fixed StructType schemas for every pipeline table.

The reference passes implicit, dynamically-shaped dicts between stages
(SURVEY.md §1.1); here every stage boundary is a declared columnar schema so
Catalyst can prune/push down and parquet stays typed at 100TB.
"""

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# BASELINE.json input_hint: the primary input table.
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

PARAGRAPHS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("para_idx", IntegerType(), False),
        StructField("text", StringType(), False),
    ]
)

SENTENCES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("para_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("sentence", StringType(), False),
    ]
)

MENTION = StructType(
    [
        StructField("begin", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("alias", StringType(), False),
        StructField("db", StringType(), False),
        StructField("id", StringType(), False),
        StructField("entry_name", StringType(), False),
        StructField("score", DoubleType(), False),
    ]
)

MENTIONS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("para_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("sentence", StringType(), False),
        StructField("mentions", ArrayType(MENTION), False),
    ]
)

STATEMENT = StructType(
    [
        StructField("bel_statement", StringType(), False),
        StructField("evidence", StringType(), False),
    ]
)

STATEMENTS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("para_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("bel_statement", StringType(), False),
        StructField("evidence", StringType(), False),
    ]
)

TRIPLES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("para_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("subj", StringType(), True),
        StructField("pred", StringType(), True),
        StructField("obj", StringType(), True),
        StructField("bel_statement", StringType(), False),
        StructField("evidence", StringType(), False),
    ]
)

NODES = StructType(
    [
        StructField("node_id", LongType(), False),
        StructField("name", StringType(), False),
        StructField("label", StringType(), True),
        StructField("type", StringType(), True),
        StructField("url", StringType(), True),
    ]
)

EDGES = StructType(
    [
        StructField("edge_id", LongType(), False),
        StructField("s", LongType(), False),
        StructField("t", LongType(), False),
        StructField("interaction", StringType(), False),
        StructField("bel_expression", StringType(), False),
        StructField("text", StringType(), True),
        StructField("evidence", StringType(), True),
    ]
)

ALIAS_DICT = StructType(
    [
        StructField("alias", StringType(), False),
        StructField("db", StringType(), False),
        StructField("id", StringType(), False),
        StructField("entry_name", StringType(), False),
        StructField("prior", DoubleType(), False),
    ]
)

GOLD_TRIPLES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("para_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("bel_statement", StringType(), False),
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("evidence", StringType(), False),
    ]
)

METRICS = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("rows", LongType(), False),
        StructField("wall_ms", LongType(), False),
    ]
)
