"""P3-P8 — canonicalization into node/edge property-graph tables.

Reference parity: convert_to_cx2.py:62-170 (node dedup on exact BEL-term
string, label/type extraction, first-wins entry_name -> identifiers.org URL
map, edge rows with source/target labels + bel_expression). The reference's
in-memory dict counters become:

  * node canonicalization  -> distinct + dense ids (plans/ids.py)
  * first-wins annotation  -> min_by over a deterministic occurrence key
  * edge endpoint lookup   -> two hash joins (broadcast when the node table
                              fits, sort-merge + AQE skew split otherwise;
                              entity frequencies are Zipf so this IS the
                              skew-sensitive join of the pipeline)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..functions.bel import extract_label, extract_type, identifiers_url
from ..plans.ids import dense_ids


@F.pandas_udf(StringType())
def _label_udf(name: pd.Series) -> pd.Series:
    return name.map(extract_label)


@F.pandas_udf(StringType())
def _type_udf(name: pd.Series) -> pd.Series:
    return name.map(extract_type)


# --- native (JVM-side, codegen'd) forms of the label/type extraction -------
# Same regexes as functions/bel.py:232-235 (reference semantics:
# convert_to_cx2.py:135-149). Staying inside WholeStageCodegen removes the
# Arrow crossing from the node build entirely; parity with the Python forms
# is pinned by tests/test_graph_hash_ids.py.

_NS_VALUE_PAT = ':["\']?([^"\')]+)["\']?'
_PMOD_PAT = r"pmod\(([a-zA-Z]+)"
_LOC_PAT = r"loc\([a-zA-Z]+:([^)]+)\)"
_TYPE_PAT = r"^([a-zA-Z]+)\("


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
        "ann_url",
        F.concat(
            F.lit("https://identifiers.org/"),
            F.when(F.col("id").contains(":"), F.col("id")).otherwise(
                F.concat_ws(":", F.col("db"), F.col("id"))
            ),
        ),
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
    sent_idx). Mirrors ``audit_id_collisions``."""
    key = F.concat_ws(
        "", "url", "para_idx", "sent_idx", "bel_expression"
    )
    return (
        edges.groupBy("edge_id")
        .agg(F.countDistinct(key).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )


def build_nodes(
    triples: DataFrame,
    ann_map: DataFrame | None = None,
    id_strategy: str = "dense",
    hash_seed: int = 0,
) -> DataFrame:
    """Canonical nodes: dedup by exact BEL-term string, ids, label/type,
    URL via name-then-label lookup (convert_to_cx2.py:151-166).

    id_strategy:
      * ``dense``  — reference-parity 0..n-1 ids via ``dense_ids``
        (CX2 export shape); costs one ordered single-partition window.
      * ``hash``   — content-addressed ``xxhash64(name)`` ids; the node
        table is one distinct away from the triples and edges need no join
        at all (see ``build_edges``). This is the 100TB hot path; exports
        can renumber per-document subgraphs with ``renumber_for_export``.
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
    broadcast_nodes: bool = False,
    id_strategy: str = "dense",
    hash_seed: int = 0,
    carry_names: bool = False,
    carry_url: bool = False,
) -> DataFrame:
    """Edge materialization (convert_to_cx2.py:104-133): endpoint ids +
    bel_expression/text/evidence carry-through, edge ids.

    ``dense`` strategy: endpoint-id lookup joins against the node table
    (broadcast when it fits, sort-merge + AQE skew split otherwise) and a
    dense edge id. ``hash`` strategy: endpoint ids are recomputed
    from the names (``node_id_col``) and the edge id is a seed-fixed hash of
    the edge's identity key — ZERO joins and ZERO shuffles, so the whole
    edge build fuses into the extraction stage. ``nodes`` is unused there.
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
    node_ids = nodes.select("node_id", "name")
    if broadcast_nodes:
        node_ids = F.broadcast(node_ids)
    s_ids = node_ids.select(
        F.col("name").alias("subj"), F.col("node_id").alias("s")
    )
    t_ids = node_ids.select(F.col("name").alias("obj"), F.col("node_id").alias("t"))
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
    (``build_edges(..., id_strategy="hash", carry_names=True)``).

    This is the single-pass full-job shape: extraction writes edges once,
    and the (much smaller) node table is a distinct over the written edges'
    endpoints — no triples cache, no second extraction pass. Output matches
    ``build_nodes(triples, id_strategy="hash")`` row-for-row (ann_map-less
    form; pinned by test)."""
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


def renumber_for_export(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Map hash-strategy ids back to dense 0..n-1 for CX2 export parity
    (the reference exports one small per-document network at a time —
    convert_to_cx2.py:92-111 — so this runs over export-sized subgraphs,
    not the full 10^12-doc graph)."""
    dense_nodes = dense_ids(
        nodes.withColumnRenamed("node_id", "_old"), ["name"], out_col="node_id"
    )
    idmap = F.broadcast(dense_nodes.select("_old", "node_id"))
    dense_edges = (
        edges.join(idmap.withColumnRenamed("_old", "s").withColumnRenamed("node_id", "_s2"), "s")
        .join(idmap.withColumnRenamed("_old", "t").withColumnRenamed("node_id", "_t2"), "t")
        .drop("s", "t")
        .withColumnRenamed("_s2", "s")
        .withColumnRenamed("_t2", "t")
    )
    dense_edges = dense_ids(
        dense_edges.withColumnRenamed("edge_id", "_old_eid"),
        ["bel_expression", "s", "t", "_old_eid"],
        out_col="edge_id",
    ).drop("_old_eid")
    return dense_nodes.drop("_old"), dense_edges.select(
        "edge_id", "s", "t", "interaction", "bel_expression", "text", "evidence"
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
    "renumber_for_export",
    "identifiers_url_col",
    "identifiers_url",
]
