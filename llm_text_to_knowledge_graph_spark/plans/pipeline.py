"""End-to-end KG-construction pipeline (SURVEY.md §3.1 Spark lifecycle).

pages -> paragraphs -> sentences -> mentions -> statements -> triples
      -> nodes + edges

The graph is content-addressed (``build_nodes``/``build_edges`` with their
default hash ids): node ids are ``node_id_col(name)``, edges are a
join-free projection of the triples, and the CX2 renderer
(``export.cx2.to_cx2``) numbers an exported graph 0..n-1 itself.

Extraction is one Python crossing: the per-paragraph kernel
(``operators.fused.extract_fused``, ``shape="paragraphs"``); every
extraction stage is a projection or explode of its rows. Two modes over
the same views:
  * lazy (workdir=None): one Catalyst plan end to end, no materialization.
  * checkpointed (workdir set): the kernel output is persisted once and
    each view commits an atomic snapshot via the TableStore shim with
    per-partition lineage + a metrics row (reference analog: per-stage JSON
    checkpoints, main.py:55-98).

One resume rule: a stage resumes iff its committed snapshot carries the
run key (``input_token``, extractor, lexicon digest) joined to the stage
name (``checkpoint.resume_or_compute``).
"""

from __future__ import annotations

import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.fused import extract_fused
from ..operators.graph import annotation_map, build_edges, build_nodes
from ..operators.mentions import explode_mentions, lexicon_digest
from .checkpoint import make_table_store, resume_or_compute

# extraction stages in commit order per extractor: (output key, stage name).
# The block engine's statements are their own table; nodes and edges follow
# either way.
EXTRACT_STAGES = {
    "sentence": (
        ("paragraphs", "paragraphs"),
        ("sentences", "sentences"),
        ("mentions", "mentions"),
        ("statements", "statements"),
        ("triples", "triples"),
        ("flat_mentions", "flat_mentions"),
    ),
    "block": (
        ("paragraphs", "paragraphs"),
        ("sentences", "sentences"),
        ("mentions", "mentions"),
        ("flat_mentions", "flat_mentions"),
        ("statements", "statements_block"),
        ("triples", "triples"),
    ),
}

_KEYS = ("url", "warc_ts", "para_idx")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_rows: list,
    workdir: str | None = None,
    input_token: str = "adhoc",
    run_id: str = "run-0",
    extractor: str = "sentence",
) -> dict:
    """Run the full pipeline; returns dict of stage-name -> DataFrame plus
    ``metrics`` (list of dicts) when checkpointing.

    ``extractor`` selects the C2 engine for the statements/triples stages:
    ``"sentence"`` (default) is the round-1 exact-phrase engine over
    sentence-sliced mentions; ``"block"`` runs the extended paragraph-level
    pattern engine (``operators.extraction``) — coordination, displaced-agent
    passives, nominalizations, fold-continuations, cnc+pretreatment synergy —
    over whole paragraphs. Block statements carry ``sent_idx = 0``
    (evidence is the whole paragraph); block mentions come from the one
    paragraph pass (``fused.extract_document``). Both engines run inside the
    same single kernel crossing.

    Default decision (r3, evidence-based): ``"sentence"`` stays the
    throughput default — warm sf0.1 measures the fused block engine ~8%
    slower while emitting identical triples on corpora whose relations are
    sentence-local by construction. Pick ``"block"`` for real prose, where
    its cross-clause patterns earn the measured real-gold recall
    (tests/test_real_gold.py); both engines are benched every round
    (``kg_extract_fused`` vs ``kg_extract_fused_block``).

    Lazy mode caches nothing: a caller that reads several outputs caches
    what it reuses (the graph is built from the triples). The checkpointed
    mode persists the kernel output while its stages commit (and
    unpersists it after, also when a commit fails), and reads every later
    stage from the parquet snapshots.

    Checkpointed stages resume by one rule: a stage's fingerprint is
    ``<input_token>:<extractor>:<lexicon digest>:<stage>`` (the digest
    ``mentions.lexicon_digest`` of ``alias_rows``, the key the workers' matcher
    cache uses too; ``input_token`` must name the pages), and a
    committed snapshot is served iff it carries exactly that fingerprint.
    A rerun with identical arguments resumes every stage; another extractor
    or lexicon over the same workdir recomputes every stage.

    Nodes and edges carry content-addressed ids (``node_id_col`` /
    ``edge_id_col``); the edges are built from the triples alone.

    Checkpointed mode hash-partitions the pages by url into twice the
    default parallelism before the kernel, so extraction parallelism
    matches cores.
    """
    if extractor not in EXTRACT_STAGES:
        raise ValueError(f"unknown extractor {extractor!r}")
    alias_rows = list(alias_rows)  # the digest must not use up a generator
    # real Iceberg when a SparkCatalog is configured, parquet shim here
    store = make_table_store(spark, workdir) if workdir else None
    if store is not None:
        run_key = f"{input_token}:{extractor}:{lexicon_digest(alias_rows)}"
    metrics: list[dict] = []

    def stage(name: str, thunk):
        if store is None:
            return thunk()
        t0 = time.monotonic()
        df, resumed = resume_or_compute(
            store, spark, name, f"{run_key}:{name}", run_id, thunk
        )
        m = store.manifest(name)
        metrics.append(
            {
                "run_id": run_id,
                "stage": name,
                "rows": m["rows"],
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "resumed": resumed,
            }
        )
        return df

    if store is not None:
        # explicit repartition before the heavy crossing (north_rule:
        # explicit partitioning)
        pages = pages.repartition(spark.sparkContext.defaultParallelism * 2, "url")
    base = extract_fused(pages, alias_rows, engine=extractor, shape="paragraphs")
    if store is not None:
        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    sents = base.select(*_KEYS, F.explode("sentences").alias("s"))
    results = base.select(*_KEYS, F.explode("results").alias("r"))
    out: dict = {}
    views = {
        "paragraphs": lambda: base.select(*_KEYS, "text"),
        "sentences": lambda: sents.select(*_KEYS, "s.sent_idx", "s.sentence"),
        "mentions": lambda: sents.select(*_KEYS, "s.*"),
        "flat_mentions": lambda: explode_mentions(out["mentions"]),
        "statements": lambda: results.select(
            *_KEYS, "r.sent_idx", "r.bel_statement", "r.evidence"
        ),
        "triples": lambda: results.select(*_KEYS, "r.*").filter(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj").isNotNull()
        ),
    }
    try:
        for key, name in EXTRACT_STAGES[extractor]:
            out[key] = stage(name, views[key])
        triples = out["triples"]
        ann_map = annotation_map(out["flat_mentions"])
        out["nodes"] = stage("nodes", lambda: build_nodes(triples, ann_map))
        out["edges"] = stage("edges", lambda: build_edges(triples))
    finally:
        if store is not None:
            base.unpersist()
    out["metrics"] = metrics
    if metrics:
        # each store knows its own metrics sink (a parquet file written on
        # the driver for the shim, an Iceberg metrics_log table for the
        # catalog store)
        store.write_metrics(metrics)
    return out

