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
"""

from .session import get_spark  # noqa: F401

__version__ = "0.1.0"
