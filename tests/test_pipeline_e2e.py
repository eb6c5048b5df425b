"""End-to-end: pages -> triples must reproduce the planted gold exactly
(stronger than the P/R>=0.95 target), plus graph-table invariants."""

import pytest

from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, gold_df, pages_df
from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline

N_DOCS = 60


@pytest.fixture(scope="module")
def result(spark):
    pages = pages_df(spark, N_DOCS, seed=42)
    return run_pipeline(spark, pages, build_alias_rows(), workdir=None)


def _triple_key_rows(df):
    return {
        (r["url"], r["para_idx"], r["sent_idx"], r["subj"], r["pred"], r["obj"])
        for r in df.select("url", "para_idx", "sent_idx", "subj", "pred", "obj").collect()
    }


def test_triples_match_gold_exactly(spark, result):
    extracted = _triple_key_rows(result["triples"])
    gold = _triple_key_rows(gold_df(spark, N_DOCS, seed=42))
    missing = gold - extracted
    spurious = extracted - gold
    assert not missing, f"recall misses ({len(missing)}): {sorted(missing)[:5]}"
    assert not spurious, f"precision misses ({len(spurious)}): {sorted(spurious)[:5]}"
    assert len(gold) > 100


def test_nodes_dense_and_unique(result):
    nodes = result["nodes"].collect()
    ids = sorted(n["node_id"] for n in nodes)
    assert ids == list(range(len(nodes)))
    names = {n["name"] for n in nodes}
    assert len(names) == len(nodes)


def test_edges_reference_valid_nodes(result):
    nodes = result["nodes"].select("node_id").collect()
    node_ids = {n["node_id"] for n in nodes}
    edges = result["edges"].collect()
    assert len(edges) > 0
    for e in edges:
        assert e["s"] in node_ids and e["t"] in node_ids
        assert e["bel_expression"]
    ids = sorted(e["edge_id"] for e in edges)
    assert ids == list(range(len(edges)))


def test_node_urls_resolved(result):
    # every node whose entry_name was mentioned gets an identifiers.org URL
    # via the name-then-label annotation-map lookup (convert_to_cx2.py:159)
    nodes = result["nodes"].collect()
    with_url = [n for n in nodes if n["url"]]
    assert len(with_url) > 0
    for n in with_url:
        assert n["url"].startswith("https://identifiers.org/")


def test_evidence_carried(result):
    rows = result["triples"].select("bel_statement", "evidence").limit(20).collect()
    for r in rows:
        assert r["evidence"].strip()


def test_block_extractor_pipeline_matches_sentence_path(spark, result):
    """extractor="block" swaps in the extended paragraph-level engine; on
    the closed-world synthetic corpus it must produce the SAME statement
    multiset per (url, para_idx) as the sentence engine (the pure-Python
    equality is pinned in test_real_gold; this pins the Spark wiring —
    stage substitution, sent_idx=0 marker, graph build downstream)."""
    pages = pages_df(spark, N_DOCS, seed=42)
    out = run_pipeline(
        spark, pages, build_alias_rows(), workdir=None, extractor="block"
    )
    block = {
        (r["url"], r["para_idx"], r["bel_statement"])
        for r in out["statements"].collect()
    }
    sent = {
        (r["url"], r["para_idx"], r["bel_statement"])
        for r in result["statements"].collect()
    }
    assert block == sent
    assert (out["statements"].select("sent_idx").distinct().collect()
            == [(0,)] or block == set())
    # downstream graph build still holds: every edge endpoint resolves
    nodes = {n["node_id"] for n in out["nodes"].collect()}
    for e in out["edges"].limit(200).collect():
        assert e["s"] in nodes and e["t"] in nodes


def test_node_url_lookup_by_name_then_label_aggregates_once(spark):
    """A node's URL is its name's annotation, else its label's. The two
    lookups project the annotation map differently, yet the second
    broadcast is a reused exchange, so the mention aggregate runs once."""
    from llm_text_to_knowledge_graph_spark.operators.graph import annotation_map, build_nodes

    triples = spark.createDataFrame(
        [("X1", "increases", "a(HGNC:X2)"), ("a(HGNC:X1)", "decreases", "p(HGNC:X9)")],
        "subj string, pred string, obj string",
    )
    mentions = spark.createDataFrame(
        [
            ("X1", "HGNC", "1", "u", 0, 0, 0),
            ("X2", "HGNC", "2", "u", 0, 0, 1),
            ("a(HGNC:X2)", "N", "N:7", "u", 0, 0, 2),
        ],
        "entry_name string, db string, id string, url string, para_idx int, sent_idx int, begin int",
    )
    nodes = build_nodes(triples, annotation_map(mentions))
    urls = {r["name"]: r["url"] for r in nodes.collect()}
    assert urls == {
        "X1": "https://identifiers.org/HGNC:1",  # by name
        "a(HGNC:X1)": "https://identifiers.org/HGNC:1",  # by label X1
        "a(HGNC:X2)": "https://identifiers.org/N:7",  # name wins over label X2
        "p(HGNC:X9)": None,
    }
    plan = nodes._jdf.queryExecution().executedPlan().toString()
    assert any(
        "ReusedExchange" in line and "BroadcastExchange" in line for line in plan.splitlines()
    ), plan


def test_dense_export_spark_job_budget(spark):
    """Lazy dense-id run_pipeline(persist=True) + to_cx2 stays under a
    Spark-job ceiling (15 jobs measured on this corpus; the two-phase
    dense ids plus a count() per exported table took 37), and persists
    only the fused extraction and the node table."""
    from pyspark import StorageLevel

    from llm_text_to_knowledge_graph_spark.export.cx2 import to_cx2

    sc = spark.sparkContext
    group = "dense-export-job-budget"
    pages = pages_df(spark, 30, seed=3)
    sc.setJobGroup(group, group)
    try:
        res = run_pipeline(spark, pages, build_alias_rows(3), id_strategy="dense", persist=True)
        cx = to_cx2(res["nodes"], res["edges"], name="budget")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert cx[5]["edges"] and len(jobs) <= 20, len(jobs)
        assert res["nodes"].storageLevel == StorageLevel.MEMORY_AND_DISK
        for name in ("mentions", "triples", "edges"):
            assert res[name].storageLevel == StorageLevel.NONE, name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
