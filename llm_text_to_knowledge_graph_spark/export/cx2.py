"""CX2 (Cytoscape Exchange v3) exporter — the pipeline's final sink.

Aspect layout matches the reference's emitted networks
(results/PMC11239181/cx2_network.cx: CXVersion, metaData,
attributeDeclarations, networkAttributes, nodes, edges, visualProperties,
status; node attrs name/label/type/id(url), edge attrs
interaction/bel_expression/text/evidence — convert_to_cx2.py:62-170,
main.py:84-98).

The graph handed to an interactive viewer is bounded by definition, so the
exporter collects the nodes/edges tables driver-side (toPandas over Arrow)
and renders JSON; the heavy lifting (canonicalization, grounding) already
happened distributed.

The renderer owns the CX2 numbering, as the reference numbers nodes with a
first-seen counter while it renders one document (convert_to_cx2.py:92-111):
nodes get 0..n-1 in ``node_id`` order, edges 0..m-1 in row order, whatever
ids the tables carry (content-addressed xxhash64 from ``run_pipeline``, or
dense 0..n-1, which come out unchanged).
"""

from __future__ import annotations

import datetime as _dt
import json

from pyspark.sql import DataFrame

CX_VERSION = "2.0"

_NODE_DECLS = {
    "name": {"d": "string"},
    "label": {"d": "string"},
    "type": {"d": "string"},
    "id": {"d": "string"},
}
_EDGE_DECLS = {
    "interaction": {"d": "string"},
    "bel_expression": {"d": "string"},
    "text": {"d": "string"},
    "evidence": {"d": "string"},
}


def _network_attributes(
    name: str | None,
    description: str | None,
    reference: str | None,
) -> dict:
    # P10 naming fallback chain (main.py:165-183): explicit name, else
    # timestamped default
    if not name:
        stamp = _dt.datetime.now(_dt.timezone.utc).strftime("%Y%m%d_%H%M")
        name = f"KG_network_{stamp}"
    attrs = {"name": name}
    if description:
        attrs["description"] = description
    if reference:
        attrs["reference"] = reference
    return attrs


def _check_size(n_elements: int, max_elements: int) -> None:
    if n_elements > max_elements:
        raise ValueError(
            f"graph too large for a single CX2 document (more than "
            f"{max_elements} nodes + edges); export per-partition subgraphs "
            f"or raise max_elements"
        )


def to_cx2(
    nodes: DataFrame,
    edges: DataFrame,
    name: str | None = None,
    description: str | None = None,
    reference: str | None = None,
    visual_properties: list | None = None,
    max_elements: int = 5_000_000,
) -> list:
    """Render canonical node/edge tables as a CX2 aspect list. Node and edge
    ids are renumbered 0..n-1 / 0..m-1 (see the module docstring); every
    edge endpoint must be a ``node_id`` of ``nodes``."""
    # bounded collects, not counts: at most max_elements + 1 rows reach the
    # driver, and a graph within the bound costs no extra job
    node_pdf = (
        nodes.select("node_id", "name", "label", "type", "url")
        .limit(max_elements + 1)
        .toPandas()
    )
    _check_size(len(node_pdf), max_elements)
    edge_pdf = (
        edges.select(
            "edge_id", "s", "t", "interaction", "bel_expression", "text", "evidence"
        )
        .limit(max_elements + 1 - len(node_pdf))
        .toPandas()
    )
    _check_size(len(node_pdf) + len(edge_pdf), max_elements)
    node_pdf = node_pdf.sort_values(["node_id", "name"])
    # rows, not edge_id values, are numbered: a content edge id may repeat
    # (``edge_id_col``), so the edge's content breaks ties
    edge_pdf = edge_pdf.sort_values(["edge_id", "s", "t", "bel_expression", "evidence"])

    cx_id = {}
    node_aspect = []
    for i, r in enumerate(node_pdf.itertuples(index=False)):
        cx_id[r.node_id] = i
        v = {"name": r.name, "label": r.label, "type": r.type}
        if r.url:
            v["id"] = r.url
        node_aspect.append({"id": i, "v": v})

    edge_aspect = [
        {
            "id": i,
            "s": cx_id[r.s],
            "t": cx_id[r.t],
            "v": {
                "interaction": r.interaction,
                "bel_expression": r.bel_expression,
                "text": r.text,
                "evidence": r.evidence,
            },
        }
        for i, r in enumerate(edge_pdf.itertuples(index=False))
    ]

    meta = [
        {"elementCount": 1, "name": "attributeDeclarations"},
        {"elementCount": 1, "name": "networkAttributes"},
        {"elementCount": len(node_aspect), "name": "nodes"},
        {"elementCount": len(edge_aspect), "name": "edges"},
    ]
    cx: list = [
        {"CXVersion": CX_VERSION, "hasFragments": False},
        {"metaData": meta},
        {"attributeDeclarations": [{"nodes": _NODE_DECLS, "edges": _EDGE_DECLS}]},
        {"networkAttributes": [_network_attributes(name, description, reference)]},
        {"nodes": node_aspect},
        {"edges": edge_aspect},
    ]
    if visual_properties:
        cx.append({"visualProperties": visual_properties})
        meta.append({"elementCount": 1, "name": "visualProperties"})
    cx.append({"status": [{"error": "", "success": True}]})
    return cx


def write_cx2(nodes: DataFrame, edges: DataFrame, path: str, **kwargs) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(to_cx2(nodes, edges, **kwargs), f)
