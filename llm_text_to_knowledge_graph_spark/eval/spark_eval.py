"""Distributed P/R evaluation: grouped bipartite matching + aggregation.

E4 (per-evidence-group matching) runs as applyInPandas over
groupBy(url, evidence) — the groups are tiny by construction (statements
sharing one evidence sentence), so the Python matcher cost is bounded while
the shuffle distributes groups across the cluster. E5 (P/R aggregation) is
a relational groupBy at the end.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from .bel_eval import match_group

MATCH_SCHEMA = StructType(
    [
        # nullable: rows with a null url/evidence form their own match
        # group (groupby(dropna=False)) rather than being silently dropped
        StructField("url", StringType(), True),
        StructField("evidence", StringType(), True),
        StructField("pred_statement", StringType(), True),
        StructField("gold_statement", StringType(), True),
        StructField("match_type", StringType(), False),
        StructField("score", DoubleType(), False),
    ]
)


def match_statements(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """pred/gold: DataFrames with (url, evidence, bel_statement).
    Returns one row per matched pair / unmatched statement.

    Plan shape: groups keyed by (url, evidence) are tiny (statements
    sharing one evidence sentence), so a grouped-map UDF pays one Python
    call + one pandas frame PER GROUP — measured 27s for 33k groups at
    sf0.1. Instead: ONE shuffle (repartition by key) + sortWithinPartitions
    + a single mapInPandas pass that walks the key-contiguous partition,
    buffering only a possibly chunk-split trailing group. One Python
    crossing per partition; per-group work is a plain dict append. At 10^9
    statements the shuffle key distribution is near-uniform (group size is
    bounded by statements-per-sentence), so no skew handling is needed.
    """
    p = pred.select(
        "url", "evidence", F.col("bel_statement").alias("stmt"), F.lit("pred").alias("side")
    )
    g = gold.select(
        "url", "evidence", F.col("bel_statement").alias("stmt"), F.lit("gold").alias("side")
    )
    both = p.unionByName(g)

    cols = ["url", "evidence", "pred_statement", "gold_statement", "match_type", "score"]

    def _match_frame(pdf: pd.DataFrame) -> pd.DataFrame:
        out: dict[str, list] = {c: [] for c in cols}
        # dropna=False: a null url/evidence is a real (degenerate) group —
        # the default silently drops those rows from the match table,
        # shifting P/R for inputs with null evidence
        for (url, evidence), grp in pdf.groupby(
            ["url", "evidence"], sort=False, dropna=False
        ):
            if pd.isna(url):
                url = None
            if pd.isna(evidence):
                evidence = None
            side = grp["side"].to_numpy()
            stmt = grp["stmt"].to_numpy()
            preds = [s for s, sd in zip(stmt, side) if sd == "pred"]
            golds = [s for s, sd in zip(stmt, side) if sd == "gold"]
            for r in match_group(preds, golds):
                out["url"].append(url)
                out["evidence"].append(evidence)
                out["pred_statement"].append(r["pred_statement"])
                out["gold_statement"].append(r["gold_statement"])
                out["match_type"].append(r["match_type"])
                out["score"].append(r["score"])
        return pd.DataFrame(out, columns=cols)

    def _match_partition(batches):
        buf: pd.DataFrame | None = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # the trailing key may continue in the next Arrow chunk;
            # null-safe comparison so a null trailing key still buffers
            def _eq(s: pd.Series, v) -> pd.Series:
                return s.isna() if pd.isna(v) else (s == v)

            last_url = pdf["url"].iat[-1]
            last_ev = pdf["evidence"].iat[-1]
            tail = _eq(pdf["url"], last_url) & _eq(pdf["evidence"], last_ev)
            buf = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield _match_frame(head)
        if buf is not None and len(buf):
            yield _match_frame(buf)

    parted = both.repartition("url", "evidence").sortWithinPartitions(
        "url", "evidence"
    )
    return parted.mapInPandas(_match_partition, schema=MATCH_SCHEMA)


def precision_recall(matches: DataFrame) -> dict:
    """E5 semantics: precision = matched/total_pred, recall = matched/total_gold
    (compare_bel_statements.py:128-148; matched = exact+core)."""
    agg = matches.agg(
        F.sum(
            (F.col("match_type").isin("exact_match", "core_match")).cast("long")
        ).alias("matched"),
        F.sum((F.col("pred_statement").isNotNull()).cast("long")).alias("pred_total"),
        F.sum((F.col("gold_statement").isNotNull()).cast("long")).alias("gold_total"),
        F.sum((F.col("match_type") == "exact_match").cast("long")).alias("exact"),
    ).collect()[0]
    matched, pred_total, gold_total = agg["matched"], agg["pred_total"], agg["gold_total"]
    return {
        "matched": matched,
        "exact": agg["exact"],
        "pred_total": pred_total,
        "gold_total": gold_total,
        "precision": matched / pred_total if pred_total else 0.0,
        "recall": matched / gold_total if gold_total else 0.0,
    }
