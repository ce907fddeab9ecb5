"""pages -> paragraphs / paragraphs -> sentences (S2, F2-F6; SURVEY.md §2.1-2.2).

The HTML->text extraction is an Arrow-batched pandas UDF around the pure
extractor in sources/html_extract.py (byte-identity invariant); the
explode + dense index is relational (posexplode), so Catalyst prunes the
heavy ``html BINARY`` column everywhere downstream of this stage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..sources.html_extract import extract_paragraphs_text, split_sentences


def _make_paragraphs_udf(charset: str):
    @pandas_udf(ArrayType(StringType()))
    def _udf(html: pd.Series, text: pd.Series) -> pd.Series:
        return pd.Series(
            [extract_paragraphs_text(h, t, charset=charset)
             for h, t in zip(html, text)]
        )

    return _udf


# one definition, two decode modes (auto = charset-sniffing ingest,
# the r5 default; blind utf-8 = reference bit-parity mode)
_extract_paragraphs_udf = _make_paragraphs_udf("utf-8")
_extract_paragraphs_auto_udf = _make_paragraphs_udf("auto")


@pandas_udf(ArrayType(StringType()))
def _split_sentences_udf(text: pd.Series) -> pd.Series:
    return pd.Series([split_sentences(t) for t in text])


def extract_paragraphs(pages: DataFrame, charset: str = "auto") -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> paragraphs(url, warc_ts, para_idx, text).

    The ``lang = 'en'`` predicate is applied before the UDF so Catalyst
    pushes it to the scan (partition pruning on a lang-partitioned table at
    scale).
    ``charset="auto"`` (DEFAULT since round 5 — at 100 TB the non-UTF-8
    tail is real and the sniff is ~free, see extract_paragraphs_text)
    sniffs each page's encoding (BOM / meta / content,
    operators/textnorm.py) instead of the reference's blind utf-8
    decode — identical output on valid UTF-8, correct output on
    latin-1/UTF-16 crawl pages. Pass ``charset="utf-8"`` for the
    reference's blind-decode bit-parity mode.
    """
    pages = pages.filter(F.col("lang") == "en")
    udf = (
        _extract_paragraphs_auto_udf
        if charset == "auto"
        else _extract_paragraphs_udf
    )
    return (
        pages.select(
            "url",
            "warc_ts",
            F.posexplode(udf(F.col("html"), F.col("text"))).alias(
                "para_idx", "text"
            ),
        )
    )


def split_into_sentences(paragraphs: DataFrame) -> DataFrame:
    """paragraphs -> sentences(url, warc_ts, para_idx, sent_idx, sentence)."""
    return paragraphs.select(
        "url",
        "warc_ts",
        "para_idx",
        F.posexplode(_split_sentences_udf(F.col("text"))).alias("sent_idx", "sentence"),
    )
