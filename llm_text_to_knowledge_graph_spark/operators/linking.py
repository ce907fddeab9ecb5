"""Fuzzy entity linking: MinHash-LSH alias candidate generation + scoring.

The exact dictionary matcher (operators/mentions.py) misses near-miss
surface forms (typos, spacing variants). The north-star path for those:

  1. collect UNMATCHED candidate spans (capitalized/alnum tokens that are
     not exact dictionary hits),
  2. block span->alias candidate pairs with MinHashLSH over character
     3-shingle vectors (approxSimilarityJoin — sub-quadratic, the blocking
     step that makes 10^12-scale linking feasible),
  3. score candidates = (1 - jaccard_distance) * prior and keep the top-1
     per span above a floor (the relational form of "keep the top match",
     grounding_genes.py:36-44).

Returns rows in the flat-mention shape so downstream stages are agnostic
about exact-vs-fuzzy provenance (a `fuzzy` flag is kept for audit).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

_SPAN = StructType(
    [
        StructField("begin", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("token", StringType(), False),
    ]
)

# candidate span: token with at least one uppercase letter or digit, len>=3
_CAND_RE = re.compile(r"(?<![\w-])([A-Za-z][\w-]*[A-Z0-9][\w-]*|[A-Z][\w-]{2,})(?![\w-])")


def candidate_spans(sentences: DataFrame, known_aliases: list[str]) -> DataFrame:
    """Entity-looking tokens that are NOT exact dictionary hits."""
    spark = sentences.sparkSession
    bc = spark.sparkContext.broadcast(set(known_aliases))

    @F.pandas_udf(ArrayType(_SPAN))
    def _spans(sent: pd.Series) -> pd.Series:
        known = bc.value
        out = []
        for s in sent:
            spans = [
                {"begin": m.start(1), "end": m.end(1), "token": m.group(1)}
                for m in _CAND_RE.finditer(s)
                if m.group(1) not in known
            ]
            out.append(spans)
        return pd.Series(out)

    return (
        sentences.withColumn("spans", _spans(F.col("sentence")))
        .filter(F.size("spans") > 0)
        .select(
            "url", "para_idx", "sent_idx", F.explode("spans").alias("sp")
        )
        .select(
            "url",
            "para_idx",
            "sent_idx",
            F.col("sp.begin").alias("begin"),
            F.col("sp.end").alias("end"),
            F.col("sp.token").alias("token"),
        )
    )


def _shingles(col):
    # 2-char shingles: entity surface forms are short (3-10 chars); 3-shingles
    # make single-char typos fail the Jaccard floor (TPp53 vs TP53 = 0.25)
    """Distinct character n-shingles of a lowercased string, built-ins only."""
    low = F.lower(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.length(low) - 2, F.lit(0))),
            lambda i: low.substr(i + F.lit(1), F.lit(2)),
        )
    )


def link_fuzzy(spans: DataFrame, alias_df: DataFrame) -> DataFrame:
    """spans (from candidate_spans) x alias_df (ALIAS_DICT schema) ->
    top-1 fuzzy grounding per span.

    16 hash tables set the OR-amplification depth: a true pair at
    jaccard j survives blocking with P = 1-(1-j)^t, so t=16 keeps blocking
    recall >=0.98 down to j=0.25 (measured >=0.9 end-to-end on single-edit
    typos vs the blocking-free exact-Jaccard oracle —
    tests/test_linking.py). Each table costs one minhash per row; at scale
    prefer more tables over a wider Jaccard distance (0.5), which grows
    candidate volume instead. Links scoring below 0.3 are dropped."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sp = spans.withColumn("shingles", _shingles(F.col("token"))).filter(
        F.size("shingles") > 0
    )
    al = alias_df.withColumn("shingles", _shingles(F.col("alias"))).filter(
        F.size("shingles") > 0
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 16, binary=True
    )
    spf = tf.transform(sp)
    alf = tf.transform(al)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=16, seed=42
    )
    model = mh.fit(alf)
    pairs = model.approxSimilarityJoin(
        spf, alf, 0.5, distCol="jdist"
    )
    scored = pairs.select(
        F.col("datasetA.url").alias("url"),
        F.col("datasetA.para_idx").alias("para_idx"),
        F.col("datasetA.sent_idx").alias("sent_idx"),
        F.col("datasetA.begin").alias("begin"),
        F.col("datasetA.end").alias("end"),
        F.col("datasetA.token").alias("alias"),
        F.col("datasetB.db").alias("db"),
        F.col("datasetB.id").alias("id"),
        F.col("datasetB.entry_name").alias("entry_name"),
        ((F.lit(1.0) - F.col("jdist")) * F.col("datasetB.prior")).alias("score"),
    ).filter(F.col("score") >= 0.3)
    w = Window.partitionBy("url", "para_idx", "sent_idx", "begin").orderBy(
        F.desc("score"), F.asc("db"), F.asc("id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("fuzzy", F.lit(True))
    )
