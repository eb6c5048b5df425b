"""End-to-end KG-construction pipeline (SURVEY.md §3.1 Spark lifecycle).

pages -> paragraphs -> sentences -> mentions -> statements -> triples
      -> nodes + edges

Two modes:
  * lazy (workdir=None): one Catalyst plan end to end — extraction is one
    Python crossing (operators/fused.py) and every stage a relational view
    of it, no materialization.
  * checkpointed (workdir set): each stage commits an atomic snapshot via
    the TableStore shim with per-partition lineage + a metrics row; a rerun
    with the same input fingerprint resumes past completed stages
    (reference analog: per-stage JSON checkpoints, main.py:55-98).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extraction import extract_statements_extended
from ..operators.fused import ENGINES, extract_sentence_level_fused
from ..operators.graph import annotation_map, build_edges, build_nodes
from ..operators.mentions import detect_mentions, explode_mentions
from ..operators.paragraphs import extract_paragraphs, split_into_sentences
from ..operators.statements import extract_statements
from ..operators.triples import parse_triples
from .checkpoint import TableStore, make_table_store

STAGES = (
    "paragraphs",
    "sentences",
    "mentions",
    "statements",
    "triples",
    "flat_mentions",
    "nodes",
    "edges",
)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_rows: list,
    workdir: str | None = None,
    input_token: str = "adhoc",
    run_id: str = "run-0",
    lang: str | None = "en",
    parallelism: int | None = None,
    broadcast_nodes: bool = False,
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
    the same either way. ``"sentence"`` is the throughput default; pick
    ``"block"`` for real prose, where its cross-clause patterns earn the
    measured real-gold recall (tests/test_real_gold.py).

    Lazy mode (``workdir=None``) runs extraction as ONE Python crossing,
    ``operators.fused.extract_sentence_level_fused`` with the chosen
    engine, and derives the sentences, mentions, statements, triples and
    flat_mentions stages as relational views of it. Checkpointed runs use
    the modular per-stage chain: each stage is a table with its own
    lineage, and tests pin the two modes row-for-row.

    ``persist=True`` caches the lazy crossing and the node table
    MEMORY_AND_DISK — without it the graph build re-executes the extraction
    once per downstream reference. The checkpointed mode gets the same cut
    for free from its parquet snapshots.
    """
    from pyspark import StorageLevel

    if extractor not in ENGINES:
        raise ValueError(f"unknown extractor {extractor!r}")
    par = parallelism or spark.sparkContext.defaultParallelism * 2
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

    if store is None:
        # every stage below is a relational view of one crossing; chained
        # UDF stages would each hold their own Python worker per task
        base = extract_sentence_level_fused(pages, alias_rows, lang=lang, engine=extractor)
        if persist:
            base = base.persist(StorageLevel.MEMORY_AND_DISK)
        paragraphs = extract_paragraphs(pages, lang=lang)  # lazy; free unless used
        sentences = base.select("url", "warc_ts", "para_idx", "sent_idx", "sentence")
        mentions = base.drop("results")
        results = base.select(
            "url", "warc_ts", "para_idx", "sent_idx", F.explode("results").alias("r")
        )
        statements = results.select(
            "url", "warc_ts", "para_idx", "sent_idx", "r.bel_statement", "r.evidence"
        )
        triples = results.select(
            "url", "warc_ts", "para_idx", "sent_idx",
            "r.subj", "r.pred", "r.obj", "r.bel_statement", "r.evidence",
        ).filter(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj").isNotNull()
        )
        flat_mentions = explode_mentions(mentions)
    else:
        paragraphs = stage("paragraphs", lambda: extract_paragraphs(pages, lang=lang))
        sentences = stage(
            "sentences",
            # explicit repartition before the heavy UDF stages so extraction
            # parallelism matches cores (north_rule: explicit partitioning)
            lambda: split_into_sentences(paragraphs).repartition(par, "url"),
        )
        mentions = stage("mentions", lambda: detect_mentions(sentences, alias_rows))
        if extractor == "sentence":
            statements = stage("statements", lambda: extract_statements(mentions))
            triples = stage("triples", lambda: parse_triples(statements))
        flat_mentions = stage("flat_mentions", lambda: explode_mentions(mentions))
        if extractor == "block":
            statements = stage(
                "statements_block",
                lambda: extract_statements_extended(paragraphs, alias_rows),
                token_extra=":block",
            )
            triples = stage(
                "triples", lambda: parse_triples(statements), token_extra=":block"
            )
    ann_map = annotation_map(flat_mentions)
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
        lambda: build_edges(
            triples, nodes, broadcast_nodes=broadcast_nodes, id_strategy=id_strategy
        ),
        token_extra=f":{id_strategy}",
    )

    out = {
        "paragraphs": paragraphs,
        "sentences": sentences,
        "mentions": mentions,
        "statements": statements,
        "triples": triples,
        "flat_mentions": flat_mentions,
        "nodes": nodes,
        "edges": edges,
        "metrics": metrics,
    }
    if store is not None:
        _write_metrics(spark, store, metrics)
    return out


def _write_metrics(spark: SparkSession, store: TableStore, metrics: list[dict]) -> None:
    if not metrics:
        return
    df = spark.createDataFrame(
        [
            (m["run_id"], m["stage"], int(m["rows"]), int(m["wall_ms"]))
            for m in metrics
        ],
        schema="run_id string, stage string, rows long, wall_ms long",
    )
    # each store knows its own metrics sink (parquet dir for the shim, an
    # Iceberg metrics_log table for the catalog store)
    store.write_metrics(df)


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
