"""CX2 export, streaming incremental mode, checkpoint resume, byte-identity."""

import json
import os

import pytest

from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, gen_doc, build_entities, pages_df
from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def small_result(spark):
    pages = pages_df(spark, 30, seed=3)
    return run_pipeline(spark, pages, build_alias_rows(3))


def test_cx2_export_aspects(spark, small_result, tmp_path):
    from llm_text_to_knowledge_graph_spark.export.cx2 import write_cx2

    out = tmp_path / "net.cx"
    write_cx2(
        small_result["nodes"], small_result["edges"], str(out), name="test network"
    )
    cx = json.loads(out.read_text())
    by_key = {}
    for aspect in cx:
        by_key.update(aspect)
    assert by_key["CXVersion"] == "2.0"
    assert by_key["networkAttributes"][0]["name"] == "test network"
    decls = by_key["attributeDeclarations"][0]
    assert set(decls["nodes"]) == {"name", "label", "type", "id"}
    assert set(decls["edges"]) == {"interaction", "bel_expression", "text", "evidence"}
    nodes = by_key["nodes"]
    edges = by_key["edges"]
    assert len(nodes) > 0 and len(edges) > 0
    node_ids = {n["id"] for n in nodes}
    for e in edges:
        assert e["s"] in node_ids and e["t"] in node_ids
        assert "bel_expression" in e["v"]
    assert by_key["status"][0]["success"] is True


def test_cx2_document_depends_only_on_the_graph(spark, small_result):
    """The same graph with its rows in a different physical order renders
    the byte-identical document."""
    from pyspark.sql import functions as F

    from llm_text_to_knowledge_graph_spark.export.cx2 import to_cx2

    nodes, edges = small_result["nodes"], small_result["edges"]
    doc = json.dumps(to_cx2(nodes, edges, name="n"))
    shuffled = json.dumps(
        to_cx2(
            nodes.orderBy(F.desc("node_id")),
            edges.repartition(7, "bel_expression").sortWithinPartitions(F.desc("evidence")),
            name="n",
        )
    )
    assert shuffled == doc
    ids = [e["id"] for e in json.loads(doc)[5]["edges"]]
    assert ids == sorted(ids)


def test_cx2_size_guard(spark, small_result):
    from llm_text_to_knowledge_graph_spark.export.cx2 import to_cx2

    nodes, edges = small_result["nodes"], small_result["edges"]
    total = nodes.count() + edges.count()
    assert len(to_cx2(nodes, edges, name="n", max_elements=total)[5]["edges"]) == edges.count()
    with pytest.raises(ValueError, match="too large"):
        to_cx2(nodes, edges, name="n", max_elements=total - 1)
    with pytest.raises(ValueError, match="too large"):
        to_cx2(nodes, edges, name="n", max_elements=nodes.count() - 1)


def test_streaming_incremental_exactly_once(spark, tmp_path):
    from llm_text_to_knowledge_graph_spark.operators.fused import extract_triples_fused
    from llm_text_to_knowledge_graph_spark.streaming.incremental import (
        incremental_triples,
    )

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    alias_rows = build_alias_rows(9)

    batch1 = pages_df(spark, 20, seed=9)
    batch1.write.mode("append").parquet(pages_dir)
    q = incremental_triples(spark, pages_dir, out_dir, ckpt, alias_rows)
    q.awaitTermination(120)

    n1 = spark.read.parquet(out_dir).count()
    expected1 = extract_triples_fused(batch1, alias_rows).count()
    assert n1 == expected1 > 0

    # second micro-batch: only NEW files are processed (exactly-once)
    batch2_full = pages_df(spark, 30, seed=9)  # doc ids 0..29; 0..19 overlap batch1 file set? no: new files
    batch2 = batch2_full.filter("url > 'https://corpus.test/doc/000000000019'")
    batch2.write.mode("append").parquet(pages_dir)
    q = incremental_triples(spark, pages_dir, out_dir, ckpt, alias_rows)
    q.awaitTermination(120)

    n2 = spark.read.parquet(out_dir).count()
    expected2 = extract_triples_fused(batch2, alias_rows).count()
    assert n2 == expected1 + expected2
    # rerun with no new files -> nothing appended
    q = incremental_triples(spark, pages_dir, out_dir, ckpt, alias_rows)
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n2


def test_checkpoint_resume_identical_outputs(spark, tmp_path):
    wd = str(tmp_path / "wd")
    pages = pages_df(spark, 25, seed=4)
    alias = build_alias_rows(4)

    r1 = run_pipeline(spark, pages, alias, workdir=wd, input_token="t4", run_id="r1")
    edges1 = sorted(tuple(r) for r in r1["edges"].collect())
    assert all(not m["resumed"] for m in r1["metrics"])

    # simulate a mid-run crash: nuke the manifests of the last two stages
    for stage in ("nodes", "edges"):
        os.remove(os.path.join(wd, stage, "manifest.json"))

    r2 = run_pipeline(spark, pages, alias, workdir=wd, input_token="t4", run_id="r2")
    resumed = {m["stage"]: m["resumed"] for m in r2["metrics"]}
    assert resumed["paragraphs"] and resumed["triples"] and resumed["mentions"]
    assert not resumed["nodes"] and not resumed["edges"]
    edges2 = sorted(tuple(r) for r in r2["edges"].collect())
    assert edges1 == edges2

    # changed input fingerprint -> full recompute
    r3 = run_pipeline(spark, pages, alias, workdir=wd, input_token="t5", run_id="r3")
    assert all(not m["resumed"] for m in r3["metrics"])


def test_lineage_recorded(spark, tmp_path):
    wd = str(tmp_path / "wd2")
    pages = pages_df(spark, 15, seed=6)
    run_pipeline(spark, pages, build_alias_rows(6), workdir=wd, input_token="t6")
    manifest = json.loads(open(os.path.join(wd, "triples", "manifest.json")).read())
    assert manifest["rows"] > 0
    parts = manifest["partitions"]
    assert len(parts) >= 1
    for p in parts:
        assert p["rows"] >= 0
        if p["rows"]:
            assert p["url_min"] <= p["url_max"]
            assert "warc_ts_max" in p


def test_byte_identity_distributed_vs_single_node(spark):
    """input_hint invariant: extracted text per url is byte-identical between
    the distributed pandas-UDF path and the single-node pure extractor,
    under different partitionings."""
    from llm_text_to_knowledge_graph_spark.operators.paragraphs import (
        extract_paragraphs,
    )
    from llm_text_to_knowledge_graph_spark.sources.html_extract import (
        extract_paragraphs_text,
    )

    n = 30
    entities = build_entities(8)
    single = {}
    for i in range(n):
        doc = gen_doc(8, i, entities)
        if doc["lang"] != "en":
            continue
        single[doc["url"]] = extract_paragraphs_text(doc["html"], doc["text"])

    for parts in (2, 11):
        pages = pages_df(spark, n, seed=8, partitions=parts)
        rows = extract_paragraphs(pages).collect()
        dist: dict = {}
        for r in rows:
            dist.setdefault(r["url"], {})[r["para_idx"]] = r["text"]
        got = {u: [v[i] for i in sorted(v)] for u, v in dist.items()}
        assert got == single
