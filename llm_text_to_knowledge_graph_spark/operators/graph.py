"""P3-P8 — canonicalization into node/edge property-graph tables.

Reference parity: convert_to_cx2.py:62-170 (node dedup on exact BEL-term
string, label/type extraction, first-wins entry_name -> identifiers.org URL
map, edge rows with source/target labels + bel_expression). The reference's
in-memory dict counters become:

  * node canonicalization  -> distinct + content-addressed ids
                              (``node_id_col``: xxhash64 of the BEL term)
  * first-wins annotation  -> min_by over a deterministic occurrence key
  * edge endpoint lookup   -> none: endpoint ids are recomputed from the
                              names, so edges are a join-free projection

The reference's 0..n-1 counter is applied where it ran, per rendered CX2
document (``export.cx2.to_cx2``). Hash ids are the default of every build;
``id_strategy="dense"`` (two-phase ``dense_ids`` plus endpoint joins) is
chosen only where a caller writes it: the benchmark's id-scheme timing in
``perfbench`` and the tests that pin the dense path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.bel import (
    _LOC_PAT,
    _NS_VALUE_PAT,
    _PMOD_PAT,
    _TYPE_PAT,
    identifiers_url,
)
from ..plans.ids import dense_ids


# --- native (JVM-side, codegen'd) forms of the label/type extraction -------
# The regexes of functions/bel.py's extract_label/extract_type (reference
# semantics: convert_to_cx2.py:135-149). Staying inside WholeStageCodegen
# removes the Arrow crossing from the node build entirely; parity with the
# Python forms is pinned by tests/test_graph_hash_ids.py.


def label_col(bel) -> F.Column:
    """Native column form of ``extract_label``: all ns:value names, pmod
    types, and loc names comma-joined; the raw expression when none match."""
    bel = F.col(bel) if isinstance(bel, str) else bel
    ns = F.transform(
        F.regexp_extract_all(bel, F.lit(_NS_VALUE_PAT), F.lit(1)),
        # Python str.strip() parity: (?U) makes Java's \s the Unicode
        # whitespace class Python uses (else e.g. a non-breaking space in a
        # quoted BEL name trims differently between the two node builds)
        lambda x: F.regexp_replace(x, r"(?U)(^\s+|\s+$)", ""),
    )
    pm = F.regexp_extract_all(bel, F.lit(_PMOD_PAT), F.lit(1))
    lc = F.transform(
        F.regexp_extract_all(bel, F.lit(_LOC_PAT), F.lit(1)),
        lambda x: F.translate(x, "\"'", ""),
    )
    parts = F.concat(ns, pm, lc)
    return F.when(F.size(parts) == 0, bel).otherwise(F.array_join(parts, ", "))


def type_col(bel) -> F.Column:
    """Native column form of ``extract_type``: BEL function prefix before the
    first '(' else 'unknown'."""
    bel = F.col(bel) if isinstance(bel, str) else bel
    ex = F.regexp_extract(bel, _TYPE_PAT, 1)
    return F.when(ex == "", "unknown").otherwise(ex)


def annotation_map(flat_mentions: DataFrame) -> DataFrame:
    """entry_name -> identifiers.org URL, first occurrence wins
    (convert_to_cx2.py:77-82; determinism via min_by over the occurrence key
    instead of scan order)."""
    with_url = flat_mentions.withColumn(
        "ann_url", identifiers_url_col(F.col("db"), F.col("id"))
    )
    return with_url.groupBy("entry_name").agg(
        F.expr(
            "min_by(ann_url, struct(url, para_idx, sent_idx, begin))"
        ).alias("ann_url")
    )


def node_id_col(name, hash_seed: int = 0) -> F.Column:
    """Content-addressed node id: seed-fixed xxhash64 of the canonical BEL
    term. Deterministic with no shuffle — any operator can recompute a
    node's id from its name alone, which removes the endpoint-id lookup
    join (and with it the pipeline's only Zipf-skew-sensitive shuffle).

    Collision handling: 64-bit hash, so for E distinct entities
    P(any collision) ~ E^2 / 2^65 — ~5e-9 at 1e4 entities, ~0.03 at 1e9.
    At the top end run ``audit_id_collisions`` (one cheap agg) after the
    node build; if it ever fires, rebuild with ``hash_seed + 1`` — the seed
    feeds the hash as a literal prefix column, so every id changes
    deterministically and the probability that consecutive seeds both
    collide is the product of the per-seed bounds (~1e-3 at 1e9). The
    chosen seed is part of the table's metadata, like a schema version."""
    name = F.col(name) if isinstance(name, str) else name
    if hash_seed == 0:
        return F.xxhash64(name)
    return F.xxhash64(F.lit(hash_seed), name)


def audit_id_collisions(nodes: DataFrame) -> int:
    """Number of hash-id collisions (distinct names sharing a node_id).
    One map-side-combinable aggregation; run as a post-build audit at scale."""
    return (
        nodes.groupBy("node_id")
        .agg(F.countDistinct("name").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )


def edge_id_col(hash_seed: int = 0) -> F.Column:
    """Content-addressed edge id: seed-fixed xxhash64 of the edge identity
    key (url, para_idx, sent_idx, bel_expression). Same seed-bump collision
    protocol as ``node_id_col``: at the 10^12-edge target the 64-bit
    birthday bound makes collisions EXPECTED, so any dedup-by-edge_id read
    must first pass ``audit_edge_id_collisions`` (or treat edge_id as
    non-unique and dedup on the identity key itself)."""
    cols = [F.col("url"), F.col("para_idx"), F.col("sent_idx"), F.col("bel_expression")]
    if hash_seed == 0:
        return F.xxhash64(*cols)
    return F.xxhash64(F.lit(hash_seed), *cols)


def audit_edge_id_collisions(edges: DataFrame) -> int:
    """Number of edge_id collisions: distinct identity keys sharing an
    edge_id. Requires the identity columns alongside edge_id (i.e. run on
    the pre-projection edge build, or a reader that kept url/para_idx/
    sent_idx). Mirrors ``audit_id_collisions``. The key is a struct, not a
    separator-joined string: ``concat_ws`` skips NULL fields and a field may
    contain the separator, so two distinct keys could join to one string."""
    key = F.struct("url", "para_idx", "sent_idx", "bel_expression")
    return (
        edges.groupBy("edge_id")
        .agg(F.countDistinct(key).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )


def build_nodes(
    triples: DataFrame,
    ann_map: DataFrame | None = None,
    id_strategy: str = "hash",
    hash_seed: int = 0,
) -> DataFrame:
    """Canonical nodes: dedup by exact BEL-term string, ids, label/type,
    URL via name-then-label lookup (convert_to_cx2.py:151-166).

    id_strategy:
      * ``hash`` (default) — content-addressed ``xxhash64(name)`` ids;
        the node table is one distinct away from the triples and edges
        need no join at all (see ``build_edges``). The CX2 renderer numbers
        an exported graph 0..n-1 itself.
      * ``dense``  — 0..n-1 ids in the table via two-phase ``dense_ids``;
        costs the bucket-window shuffle chain. Only the benchmark's
        id-scheme timing and the tests that pin it ask for it.
    """
    names = (
        triples.select(F.col("subj").alias("name"))
        .unionAll(triples.select(F.col("obj").alias("name")))
        .filter(F.col("name").isNotNull())
        .distinct()
    )
    if id_strategy == "hash":
        nodes = names.withColumn("node_id", node_id_col("name", hash_seed))
    else:
        nodes = dense_ids(names, ["name"], out_col="node_id")
    nodes = nodes.withColumn("label", label_col("name")).withColumn(
        "type", type_col("name")
    )
    if ann_map is None:
        return nodes.withColumn("url", F.lit(None).cast("string")).select(
            "node_id", "name", "label", "type", "url"
        )
    by_name = ann_map.select(
        F.col("entry_name").alias("name"), F.col("ann_url").alias("_url_by_name")
    )
    by_label = ann_map.select(
        F.col("entry_name").alias("label"), F.col("ann_url").alias("_url_by_label")
    )
    nodes = (
        nodes.join(F.broadcast(by_name), "name", "left")
        .join(F.broadcast(by_label), "label", "left")
        .withColumn("url", F.coalesce("_url_by_name", "_url_by_label"))
        .select("node_id", "name", "label", "type", "url")
    )
    return nodes


def build_edges(
    triples: DataFrame,
    nodes: DataFrame | None = None,
    id_strategy: str = "hash",
    hash_seed: int = 0,
    carry_names: bool = False,
    carry_url: bool = False,
) -> DataFrame:
    """Edge materialization (convert_to_cx2.py:104-133): endpoint ids +
    bel_expression/text/evidence carry-through, edge ids.

    ``hash`` strategy (default): endpoint ids are recomputed from the
    names (``node_id_col``) and the edge id is a seed-fixed hash of the
    edge's identity key — ZERO joins and ZERO shuffles, so the whole edge
    build fuses into the extraction stage. ``nodes`` is unused there.
    ``dense`` strategy (the benchmark's id-scheme timing and tests only):
    endpoint-id lookup joins against ``nodes`` (AQE picks broadcast or
    sort-merge + skew split from the runtime size) and a two-phase dense
    edge id.
    """
    edges = triples.withColumn(
        "bel_expression",
        F.concat_ws(" ", F.col("subj"), F.col("pred"), F.col("obj")),
    )
    if id_strategy == "hash":
        edges = (
            # dense-path parity: the endpoint inner joins drop null-endpoint
            # triples; xxhash64(NULL) is a non-null constant, so filter here
            edges.filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
            .withColumn("s", node_id_col("subj", hash_seed))
            .withColumn("t", node_id_col("obj", hash_seed))
            .withColumn("edge_id", edge_id_col(hash_seed))
        )
        cols = [
            "edge_id", "s", "t",
            F.col("pred").alias("interaction"),
            "bel_expression",
            F.col("evidence").alias("text"),
            "evidence",
        ]
        if carry_names:
            # denormalized endpoint names (the reference's edge rows carry
            # source/target labels too — convert_to_cx2.py:104-133). With
            # names on the edge table, the node table derives from WRITTEN
            # edges (``nodes_from_edges``) and the full graph job becomes a
            # single extraction pass with no triples cache.
            cols += [F.col("subj").alias("s_name"), F.col("obj").alias("t_name")]
        if carry_url:
            # per-edge provenance: which crawl page produced this edge.
            # Required by incremental maintenance (operators/delta.py) —
            # re-crawled/removed pages retract exactly their own edges via
            # an anti-join on url.
            cols += ["url"]
        return edges.select(*cols)
    s_ids = nodes.select(F.col("name").alias("subj"), F.col("node_id").alias("s"))
    t_ids = nodes.select(F.col("name").alias("obj"), F.col("node_id").alias("t"))
    edges = (
        edges.join(s_ids, "subj").join(t_ids, "obj")
        .select(
            "url",
            "para_idx",
            "sent_idx",
            "s",
            "t",
            F.col("pred").alias("interaction"),
            "bel_expression",
            F.col("evidence").alias("text"),
            "evidence",
        )
    )
    edges = dense_ids(
        edges,
        ["url", "para_idx", "sent_idx", "bel_expression"],
        out_col="edge_id",
    )
    return edges.select(
        "edge_id", "s", "t", "interaction", "bel_expression", "text", "evidence"
    )


def identifiers_url_col(db, the_id):
    """Column-expression form of the identifiers.org URL construction
    (grounding_genes.py:75-92) for relational use."""
    return F.concat(
        F.lit("https://identifiers.org/"),
        F.when(the_id.contains(":"), the_id).otherwise(F.concat_ws(":", db, the_id)),
    )


def nodes_from_edges(edges: DataFrame) -> DataFrame:
    """Node table derived from a name-carrying hash-id edge table
    (``build_edges(..., carry_names=True)``).

    This is the single-pass full-job shape: extraction writes edges once,
    and the (much smaller) node table is a distinct over the written edges'
    endpoints — no triples cache, no second extraction pass. Output matches
    ``build_nodes(triples)`` row-for-row (ann_map-less form; pinned by
    test)."""
    endpoints = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("node_id"), F.col("s_name").alias("name")),
                F.struct(F.col("t").alias("node_id"), F.col("t_name").alias("name")),
            )
        ).alias("n")
    ).select("n.node_id", "n.name").distinct()
    return endpoints.withColumn("label", label_col("name")).withColumn(
        "type", type_col("name")
    ).withColumn("url", F.lit(None).cast("string")).select(
        "node_id", "name", "label", "type", "url"
    )


# keep the pure-Python version importable next to the column version
__all__ = [
    "annotation_map",
    "build_nodes",
    "build_edges",
    "node_id_col",
    "edge_id_col",
    "nodes_from_edges",
    "label_col",
    "type_col",
    "audit_id_collisions",
    "audit_edge_id_collisions",
    "identifiers_url_col",
    "identifiers_url",
]
