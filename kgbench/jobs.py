"""The KG jobs of the workloads, their output checks and their traced forms.

Each workload runs one job per call of ``run``. ``verify`` runs the job
once untimed and scores it against the planted gold; every timed job must
then reproduce the verification run's ``signature`` (row counts, and for
``export_text`` the sha256 of the CX2 document). ``traced`` runs the job
with spans at the calls into each layer and returns per-layer metrics.

``checkpointed_block`` is no workload of its own: every traced run calls
it to measure the checkpoint layer and the block engine.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.eval.spark_eval import match_statements, precision_recall
from llm_text_to_knowledge_graph_spark.export.cx2 import to_cx2
from llm_text_to_knowledge_graph_spark.operators.fused import extract_triples_fused
from llm_text_to_knowledge_graph_spark.operators.graph import (
    annotation_map,
    build_edges,
    nodes_from_edges,
)
from llm_text_to_knowledge_graph_spark.plans.checkpoint import TableStore
from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline

from .trace import Tracer, patched

# a fixed network name keeps any timestamp out of the CX2 document
NETWORK_NAME = "kgbench"


@dataclass
class Context:
    spark: object
    pages: object  # DataFrame of PAGES rows
    gold: object  # DataFrame (url, para_idx, sent_idx, bel_statement, evidence)
    alias_rows: list
    cores: int


@dataclass
class Verified:
    precision: float
    recall: float
    triples: int
    signature: tuple
    problems: list


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _fingerprint(edges) -> tuple:
    """(rows, order-free hash sum) of the (bel_expression, evidence) multiset."""
    h = F.xxhash64("bel_expression", "evidence").cast("decimal(38,0)")
    row = edges.agg(F.count(F.lit(1)), F.sum(h)).first()
    return tuple(row)


def _score(pred, gold) -> dict:
    return precision_recall(match_statements(pred, gold))


class CrawlExtract:
    """Fused extraction -> hash-id edges written to parquet -> nodes
    derived from the written edges (the scale path)."""

    name = "crawl_extract"
    kind = "all"

    def run(self, ctx: Context, out: str):
        triples = extract_triples_fused(ctx.pages, ctx.alias_rows)
        build_edges(triples, id_strategy="hash", carry_names=True).write.parquet(f"{out}/edges")
        nodes_from_edges(ctx.spark.read.parquet(f"{out}/edges")).write.parquet(f"{out}/nodes")
        return out

    def signature(self, ctx: Context, out: str) -> tuple:
        read = ctx.spark.read.parquet
        return (read(f"{out}/edges").count(), read(f"{out}/nodes").count())

    def verify(self, ctx: Context, out: str) -> Verified:
        triples = extract_triples_fused(ctx.pages, ctx.alias_rows).cache()
        n_triples = triples.count()
        pr = _score(triples, ctx.gold)
        self.run(ctx, out)
        sig = self.signature(ctx, out)
        problems = []
        # hash-id edges keep exactly the triples with both endpoints
        kept = triples.filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
        expected = kept.select(
            F.concat_ws(" ", "subj", "pred", "obj").alias("bel_expression"), "evidence"
        )
        written = ctx.spark.read.parquet(f"{out}/edges")
        if _fingerprint(written) != _fingerprint(expected):
            problems.append("written edges differ from the extracted triples")
        names = kept.select(F.col("subj").alias("name")).union(kept.select("obj"))
        if names.distinct().count() != sig[1]:
            problems.append("node count differs from the distinct edge endpoints")
        triples.unpersist()
        return Verified(pr["precision"], pr["recall"], n_triples, sig, problems)

    def traced(self, ctx: Context, tracer: Tracer, out: str) -> dict:
        span = tracer.span
        with span("job"):
            triples = extract_triples_fused(ctx.pages, ctx.alias_rows)
            with span("sink.write"):
                build_edges(triples, id_strategy="hash", carry_names=True).write.parquet(
                    f"{out}/edges"
                )
            with span("graph.nodes"):
                nodes_from_edges(ctx.spark.read.parquet(f"{out}/edges")).write.parquet(
                    f"{out}/nodes"
                )
        sig = edges, nodes = self.signature(ctx, out)
        with span("fused"):
            extract_triples_fused(ctx.pages, ctx.alias_rows).count()
        return {
            "signature": sig,
            "graph.nodes": nodes,
            "graph.edges": edges,
            "sink.bytes": dir_bytes(f"{out}/edges") + dir_bytes(f"{out}/nodes"),
        }


class ExportText:
    """Lazy dense-id ``run_pipeline`` over pre-extracted text -> CX2."""

    name = "export_text"
    kind = "text"

    def run(self, ctx: Context, out: str):
        res = run_pipeline(ctx.spark, ctx.pages, ctx.alias_rows, id_strategy="dense", persist=True)
        cx = to_cx2(res["nodes"], res["edges"], name=NETWORK_NAME)
        return res, cx, json.dumps(cx)

    def signature(self, ctx: Context, result) -> tuple:
        _res, cx, doc = result
        return (len(cx[4]["nodes"]), len(cx[5]["edges"]), hashlib.sha256(doc.encode()).hexdigest())

    def verify(self, ctx: Context, out: str) -> Verified:
        result = self.run(ctx, out)
        res, cx, _doc = result
        triples = res["triples"]
        n_triples = triples.count()
        pr = _score(triples, ctx.gold)
        sig = self.signature(ctx, result)
        problems = []
        node_ids = {n["id"] for n in cx[4]["nodes"]}
        if node_ids != set(range(len(node_ids))):
            problems.append("CX2 node ids are not dense")
        if any(e["s"] not in node_ids or e["t"] not in node_ids for e in cx[5]["edges"]):
            problems.append("a CX2 edge has an endpoint that is not a node")
        if sig[1] != n_triples:
            problems.append("CX2 edge count differs from the triple count")
        return Verified(pr["precision"], pr["recall"], n_triples, sig, problems)

    def traced(self, ctx: Context, tracer: Tracer, out: str) -> dict:
        span = tracer.span
        with span("job"):
            with span("pipeline"):
                res = run_pipeline(
                    ctx.spark, ctx.pages, ctx.alias_rows, id_strategy="dense", persist=True
                )
            with span("fused"):
                res["mentions"].count()
            with span("graph.annotation"):
                annotation_map(res["flat_mentions"]).count()
            with span("graph.nodes"):
                nodes = res["nodes"].count()
            with span("graph.edges"):
                edges = res["edges"].count()
            with span("cx2.collect"):
                cx = to_cx2(res["nodes"], res["edges"], name=NETWORK_NAME)
            with span("cx2.serialize"):
                doc = json.dumps(cx)
        # the timed job stops at the serialized document; its sink is the file
        os.makedirs(out, exist_ok=True)
        with span("sink.write"), open(f"{out}/network.cx2", "w", encoding="utf-8") as f:
            f.write(doc)
        return {
            "signature": self.signature(ctx, (res, cx, doc)),
            "graph.nodes": nodes,
            "graph.edges": edges,
            "cx2.bytes": len(doc.encode()),
            "sink.bytes": dir_bytes(out),
        }


def checkpointed_block(ctx: Context, tracer: Tracer, out: str) -> dict:
    """Checkpointed ``run_pipeline`` with the paragraph-level block engine,
    traced: every stage commit to a fresh ``TableStore`` directory is a
    span, a rerun resumes every stage, and the dense-id graph is exported
    to CX2. Returns counts, the block engine's precision/recall (matched
    within (url, paragraph), since block statements carry the whole
    paragraph as evidence) and problems."""
    span = tracer.span
    writes: list[float] = []
    original = TableStore.commit

    def commit(store, df, name, fingerprint, run_id):
        with span(f"commit.{name}"):
            committed = original(store, df, name, fingerprint, run_id)
        writes.append(store.manifest(name)["wall_ms"] / 1000)
        return committed

    def run():
        return run_pipeline(ctx.spark, ctx.pages, ctx.alias_rows, workdir=out, extractor="block")

    with patched(TableStore, "commit", commit), span("pipeline"):
        res = run()
    with span("checkpoint.resume"):
        again = run()
    with span("graph.annotation"):
        annotation_map(res["flat_mentions"]).count()
    # the reference's last step after its checkpointed stages
    with span("cx2.collect"):
        cx = to_cx2(res["nodes"], res["edges"], name=NETWORK_NAME)
    with span("cx2.serialize"):
        doc = json.dumps(cx)
    rows = {m["stage"]: m["rows"] for m in res["metrics"]}
    by_para = F.col("para_idx").cast("string").alias("evidence")
    pr = _score(
        res["triples"].select("url", by_para, "bel_statement"),
        ctx.gold.select("url", by_para, "bel_statement"),
    )
    problems = []
    if any(m["resumed"] for m in res["metrics"]):
        problems.append("a stage resumed in a fresh checkpoint directory")
    if not all(m["resumed"] for m in again["metrics"]):
        problems.append("the rerun did not resume every stage")
    if rows["edges"] != rows["triples"]:
        problems.append("checkpointed edge rows differ from triple rows")
    return {
        "triples": rows["triples"],
        "precision": pr["precision"],
        "recall": pr["recall"],
        "problems": problems,
        "checkpoint.rows": sum(rows.values()),
        "checkpoint.bytes_written": dir_bytes(out),
        "checkpoint.write_s": sum(writes),
        "cx2.bytes": len(doc.encode()),
    }


WORKLOADS = {w.name: w for w in (CrawlExtract(), ExportText())}
