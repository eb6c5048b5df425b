"""CX2 (Cytoscape Exchange v3) exporter — the pipeline's final sink.

Aspect layout matches the reference's emitted networks
(results/PMC11239181/cx2_network.cx: CXVersion, metaData,
attributeDeclarations, networkAttributes, nodes, edges, visualProperties,
status; node attrs name/label/type/id(url), edge attrs
interaction/bel_expression/text/evidence — convert_to_cx2.py:62-170,
main.py:84-98).

The graph handed to an interactive viewer is bounded by definition, so the
exporter collects the nodes/edges tables driver-side (toPandas over Arrow)
and renders JSON; the heavy lifting (canonicalization, joins, ids) already
happened distributed.
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
    now: _dt.datetime | None = None,
) -> dict:
    # P10 naming fallback chain (main.py:165-183): explicit name, else
    # timestamped default
    if not name:
        stamp = (now or _dt.datetime.now(_dt.timezone.utc)).strftime("%Y%m%d_%H%M")
        name = f"KG_network_{stamp}"
    attrs = {"name": name}
    if description:
        attrs["description"] = description
    if reference:
        attrs["reference"] = reference
    return attrs


def to_cx2(
    nodes: DataFrame,
    edges: DataFrame,
    name: str | None = None,
    description: str | None = None,
    reference: str | None = None,
    visual_properties: list | None = None,
    max_elements: int = 5_000_000,
) -> list:
    """Render canonical node/edge tables as a CX2 aspect list.

    The document depends only on the graph: nodes are emitted in
    ``node_id`` order and edges in ``edge_id`` order, whatever order the
    physical plan yields rows in. Each table's plan runs once; the
    ``max_elements`` guard is a limit on the collect, so at most
    ``max_elements + 1`` rows are ever collected."""
    node_pdf = (
        nodes.select("node_id", "name", "label", "type", "url")
        .limit(max_elements + 1)
        .toPandas()
    )
    edge_pdf = (
        edges.select("edge_id", "s", "t", "interaction", "bel_expression", "text", "evidence")
        .limit(max_elements + 1 - len(node_pdf))
        .toPandas()
    )
    if len(node_pdf) + len(edge_pdf) > max_elements:
        raise ValueError(
            f"graph too large for a single CX2 document (more than "
            f"{max_elements} nodes + edges); export per-partition subgraphs "
            f"or raise max_elements"
        )
    node_pdf = node_pdf.sort_values("node_id")
    edge_pdf = edge_pdf.sort_values("edge_id")

    node_aspect = []
    for r in node_pdf.itertuples(index=False):
        v = {"name": r.name, "label": r.label, "type": r.type}
        if r.url:
            v["id"] = r.url
        node_aspect.append({"id": int(r.node_id), "v": v})

    edge_aspect = [
        {
            "id": int(r.edge_id),
            "s": int(r.s),
            "t": int(r.t),
            "v": {
                "interaction": r.interaction,
                "bel_expression": r.bel_expression,
                "text": r.text,
                "evidence": r.evidence,
            },
        }
        for r in edge_pdf.itertuples(index=False)
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
