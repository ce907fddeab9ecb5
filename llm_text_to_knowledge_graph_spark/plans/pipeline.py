"""End-to-end KG-construction pipeline (SURVEY.md §3.1 Spark lifecycle).

pages -> paragraphs -> sentences -> mentions -> statements -> triples
      -> nodes + edges

Extraction is one Python crossing: the per-paragraph kernel
(``operators.fused.extract_fused``, ``shape="paragraphs"``); every
extraction stage is a projection or explode of its rows. Two modes over
the same views:
  * lazy (workdir=None): one Catalyst plan end to end, no materialization.
  * checkpointed (workdir set): the kernel output is persisted once and
    each view commits an atomic snapshot via the TableStore shim with
    per-partition lineage + a metrics row; a rerun with the same input
    fingerprint resumes past completed stages (reference analog:
    per-stage JSON checkpoints, main.py:55-98).
"""

from __future__ import annotations

import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.fused import extract_fused
from ..operators.graph import annotation_map, build_edges, build_nodes
from ..operators.mentions import explode_mentions
from .checkpoint import make_table_store

# extraction stages in commit order per extractor: (output key, stage name,
# fingerprint suffix). The block engine's statements are their own table,
# and its statements/triples fingerprints carry ":block"; nodes and edges
# follow either way.
EXTRACT_STAGES = {
    "sentence": (
        ("paragraphs", "paragraphs", ""),
        ("sentences", "sentences", ""),
        ("mentions", "mentions", ""),
        ("statements", "statements", ""),
        ("triples", "triples", ""),
        ("flat_mentions", "flat_mentions", ""),
    ),
    "block": (
        ("paragraphs", "paragraphs", ""),
        ("sentences", "sentences", ""),
        ("mentions", "mentions", ""),
        ("flat_mentions", "flat_mentions", ""),
        ("statements", "statements_block", ":block"),
        ("triples", "triples", ":block"),
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
    lang: str | None = "en",
    parallelism: int | None = None,
    persist: bool = False,
    id_strategy: str = "dense",
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
    (evidence is the whole paragraph). The sentences/mentions stages are
    unchanged either way. Both engines run inside the same single kernel
    crossing.

    Default decision (r3, evidence-based): ``"sentence"`` stays the
    throughput default — warm sf0.1 measures the fused block engine ~8%
    slower while emitting identical triples on corpora whose relations are
    sentence-local by construction. Pick ``"block"`` for real prose, where
    its cross-clause patterns earn the measured real-gold recall
    (tests/test_real_gold.py); both engines are benched every round
    (``kg_extract_fused`` vs ``kg_extract_fused_block``).

    ``persist=True`` caches the kernel output and the nodes MEMORY_AND_DISK
    in lazy mode — without it the graph build re-executes the extraction
    once per downstream reference. The checkpointed mode always persists
    the kernel output while its stages commit (and unpersists it after),
    and reads every later stage from the parquet snapshots.

    ``parallelism`` (checkpointed mode): pages are hash-partitioned by url
    into this many partitions (default: twice the default parallelism)
    before the kernel, so extraction parallelism matches cores.
    """
    if extractor not in EXTRACT_STAGES:
        raise ValueError(f"unknown extractor {extractor!r}")
    # real Iceberg when a SparkCatalog is configured, parquet shim here
    store = make_table_store(spark, workdir) if workdir else None
    metrics: list[dict] = []

    def stage(name: str, thunk, token_extra: str = ""):
        if store is None:
            df = thunk()
            if persist and name == "nodes":
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
            return df
        t0 = time.monotonic()
        df, resumed = store.resume_or_compute(
            spark, name, f"{input_token}:{name}{token_extra}", run_id, thunk
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
        par = parallelism or spark.sparkContext.defaultParallelism * 2
        pages = pages.repartition(par, "url")
    base = extract_fused(
        pages, alias_rows, engine=extractor, shape="paragraphs", lang=lang
    )
    if persist or store is not None:
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
    for key, name, token_extra in EXTRACT_STAGES[extractor]:
        out[key] = stage(name, views[key], token_extra=token_extra)

    triples = out["triples"]
    ann_map = annotation_map(out["flat_mentions"])
    # id_strategy participates in the snapshot fingerprint: resuming a dense
    # run under --id-strategy hash (or vice versa) must recompute, not serve
    # the other scheme's snapshot
    nodes = stage(
        "nodes",
        lambda: build_nodes(triples, ann_map, id_strategy=id_strategy),
        token_extra=f":{id_strategy}",
    )
    edges = stage(
        "edges",
        lambda: build_edges(triples, nodes, id_strategy=id_strategy),
        token_extra=f":{id_strategy}",
    )
    out.update(nodes=nodes, edges=edges, metrics=metrics)
    if store is not None:
        base.unpersist()
        if metrics:
            # each store knows its own metrics sink (a parquet file written
            # on the driver for the shim, an Iceberg metrics_log table for
            # the catalog store)
            store.write_metrics(metrics)
    return out


def documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's ``documents`` table to the pages input schema —
    lets the same pipeline run over /root/testdata corpora."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
