"""Crawl-snapshot delta — incremental KG maintenance between crawls.

The reference processes one paper per run and rebuilds its network from
scratch each time (main.py checkpoint chain); at Common-Crawl scale the
corpus is a monthly SNAPSHOT series where >90% of pages are byte-identical
to the previous crawl, so rebuilding the graph from scratch re-extracts
the whole web for a few percent of new content. The production shape is a
delta job:

  1. classify every url across (old, new) by a content fingerprint:
     unchanged / changed / added / removed          (classify_delta)
  2. re-extract ONLY changed+added pages            (delta merge step a)
  3. retract the edges of changed+removed pages     (anti-join on url)
  4. union the kept edges with the fresh delta      (snapshot_delta)

Correctness rests on two properties of the hash-id graph strategy
(operators/graph.py): node/edge ids are content-addressed (pure functions
of the BEL terms), so re-extracting a page yields bit-identical ids with
no global renumbering; and edges carry per-url provenance
(build_edges(carry_url=True)), so retraction is an exact anti-join. The
invariant — delta-merged graph == from-scratch graph over the new
snapshot — is pinned by tests/test_delta.py.

Scale notes:
  * The classify join shuffles both snapshots on url, but only (url,
    fingerprint) slim projections cross the wire — content stays in the
    scan stage. With snapshots stored bucketed by url (Iceberg
    ``PARTITIONED BY (bucket(N, url))``, same layout as plans/bucketing),
    the join plans with ZERO Exchange.
  * The changed/added url set is typically a few percent of the corpus,
    so the join-back that selects pages to re-extract broadcasts the url
    set and stays map-only on the big side; same for the retraction
    anti-join against the edge store.
  * The fingerprint is computed map-side in the scan stage (md5, JVM
    codegen) — no Python, no extra pass over the content.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fused import extract_triples_fused
from .graph import build_edges


def page_fingerprint_col() -> Column:
    """Content identity of a page: md5 of the extracted text, falling back
    to the raw html bytes when extraction hasn't run. A pure projection —
    Catalyst evaluates it inside the snapshot scan."""
    t, h = F.col("text"), F.col("html")
    return F.when(t.isNotNull(), F.md5(t)).otherwise(F.md5(h))


def classify_delta(
    old_pages: DataFrame,
    new_pages: DataFrame,
    fingerprint: Column | None = None,
) -> DataFrame:
    """Per-url change classification between two crawl snapshots.

    Returns (url, status) with status in {'unchanged','changed','added',
    'removed'}. Only the slim (url, fingerprint) projections are joined;
    a url crawled twice within one snapshot is collapsed to its latest
    fingerprint first (max over the deterministic md5 string — any
    deterministic pick works, it only needs to match on both sides)."""
    fp = fingerprint if fingerprint is not None else page_fingerprint_col()

    def slim(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.col("url"), fp.alias(name))
            .groupBy("url")
            .agg(F.max(name).alias(name))
        )

    o = slim(old_pages, "old_fp")
    n = slim(new_pages, "new_fp")
    joined = o.join(n, "url", "full_outer")
    return joined.select(
        "url",
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def snapshot_delta(
    old_pages: DataFrame,
    new_pages: DataFrame,
    alias_rows: list,
    old_edges: DataFrame,
    hash_seed: int = 0,
) -> dict:
    """Incrementally advance the edge store from the old snapshot's graph
    to the new snapshot's graph.

    ``old_edges`` must carry url provenance (build_edges(carry_url=True,
    carry_names=True)). Returns {'edges': merged edge DataFrame,
    'classification': per-url status DataFrame}. The merged frame is
    row-identical to a from-scratch build over ``new_pages`` (pinned by
    test) because ids are content-addressed — union, not renumber.

    The changed/added/removed url sets are broadcast into the big-side
    joins (map-only): a crawl that replaces most of the web is cheaper to
    rebuild from scratch anyway.

    The classification feeds two consumers (the re-extract set and the
    retraction set), so a long-running job should persist it —
    ``out['classification'].persist()`` before acting on ``out['edges']``
    — or, in the checkpointed pipeline, commit it as a stage table; left
    lazy here so callers control materialization."""
    cls = classify_delta(old_pages, new_pages)

    def urlset(*statuses: str) -> DataFrame:
        s = cls.filter(F.col("status").isin(*statuses)).select("url")
        return F.broadcast(s)

    todo_pages = new_pages.join(urlset("added", "changed"), "url", "left_semi")
    delta_edges = build_edges(
        extract_triples_fused(todo_pages, alias_rows),
        hash_seed=hash_seed,
        carry_names=True,
        carry_url=True,
    )
    kept_edges = old_edges.join(
        urlset("changed", "removed"), "url", "left_anti"
    )
    return {
        "edges": kept_edges.unionByName(delta_edges),
        "classification": cls,
    }
