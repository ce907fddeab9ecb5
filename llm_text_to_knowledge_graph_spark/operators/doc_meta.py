"""D9/S4 — document metadata extraction (no network at runtime).

The reference fetches metadata from E-Utilities over HTTP (pub.py:69-211:
title, authors, abstract, doi, journal). Per SURVEY.md §2.1 S4, our corpus
is pre-crawled, so metadata extraction is a deterministic UDF over the
page's own <head>/content: title from <title>, abstract = first content
paragraph, plus paragraph count. Used by the network-naming step (P10).
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..sources.html_extract import extract_paragraphs_text

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.DOTALL | re.IGNORECASE)

_META = StructType(
    [
        StructField("title", StringType(), True),
        StructField("abstract", StringType(), True),
        StructField("n_paragraphs", IntegerType(), False),
    ]
)


def page_meta(html: bytes | None, text: str | None) -> tuple[str | None, str | None, int]:
    """Pure per-page metadata: (title, abstract, n_paragraphs)."""
    title = None
    if html is not None:
        m = _TITLE_RE.search(html.decode("utf-8", errors="replace"))
        if m:
            title = _html.unescape(re.sub(r"\s+", " ", m.group(1))).strip() or None
    paras = extract_paragraphs_text(html, text)
    abstract = paras[0] if paras else None
    return title, abstract, len(paras)


def extract_doc_meta(pages: DataFrame) -> DataFrame:
    """pages -> doc_meta(url, warc_ts, title, abstract, n_paragraphs)."""

    @F.pandas_udf(_META)
    def _meta(html: pd.Series, text: pd.Series) -> pd.DataFrame:
        rows = [page_meta(h, t) for h, t in zip(html, text)]
        return pd.DataFrame(
            {
                "title": [r[0] for r in rows],
                "abstract": [r[1] for r in rows],
                "n_paragraphs": pd.Series([r[2] for r in rows], dtype="int32"),
            }
        )

    return pages.select(
        "url",
        "warc_ts",
        F.col("lang"),
        _meta(F.col("html"), F.col("text")).alias("m"),
    ).select(
        "url",
        "warc_ts",
        "lang",
        F.col("m.title").alias("title"),
        F.col("m.abstract").alias("abstract"),
        F.col("m.n_paragraphs").alias("n_paragraphs"),
    )


def network_name(meta_row: dict | None) -> str:
    """P10 naming chain (main.py:165-183): title-derived > timestamped default (the timestamp branch lives in export/cx2.py)."""
    if meta_row and meta_row.get("title"):
        return f"KG: {meta_row['title']}"
    return ""
