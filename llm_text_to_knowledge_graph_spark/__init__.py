"""PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the query/data-processing capabilities of
sciluna/llm-text-to-knowledge-graph (reference at /root/reference, studied for
behavior only) as an idiomatic Spark pipeline:

    pages (url, warc_ts, html, text, lang)
      -> paragraphs      (rule-based HTML->text extraction; byte-identical per url)
      -> sentences       (deterministic segmentation)
      -> mentions        (broadcast alias-dictionary NER, top-1 per span)
      -> statements      (deterministic pattern-based BEL triple extraction)
      -> triples         (balanced-paren BEL statement parse)
      -> nodes / edges   (canonical property graph, content-addressed xxhash64 ids)
      -> CX2 export      (Cytoscape CX2 JSON)

Everything is DataFrame-first; Python only runs inside Arrow-batched pandas
UDFs. See SURVEY.md for the operator-by-operator mapping to the reference.

``get_spark`` resolves on first use (PEP 562): Spark runs this package's
``worker_daemon`` with ``-m``, which imports this file before the daemon may
import pyspark (see ``worker_daemon``).
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    if name == "get_spark":
        from .session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
