"""The one extraction kernel: every fused projection must be row-identical
to the checkpointed modular chain, run in one Python crossing, and return
typed empty output."""

import datetime as dt

import pytest

from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df
from llm_text_to_knowledge_graph_spark.operators.extraction import (
    extract_statements_extended,
)
from llm_text_to_knowledge_graph_spark.operators.fused import (
    SENT_EXTRACT,
    extract_sentence_level_fused,
    extract_triples_fused,
    extract_triples_fused_block,
)
from llm_text_to_knowledge_graph_spark.operators.mentions import detect_mentions
from llm_text_to_knowledge_graph_spark.operators.paragraphs import (
    extract_paragraphs,
    split_into_sentences,
)
from llm_text_to_knowledge_graph_spark.operators.statements import (
    extract_cooccurrence,
    extract_statements,
)
from llm_text_to_knowledge_graph_spark.operators.triples import parse_triples
from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline
from llm_text_to_knowledge_graph_spark.schemas import PAGES, STATEMENTS, TRIPLES

TRIPLE_COLS = [
    "url", "para_idx", "sent_idx", "subj", "pred", "obj", "bel_statement", "evidence",
]

# stage -> columns compared between the lazy views and the checkpointed tables
STAGE_COLS = {
    "sentences": ["url", "para_idx", "sent_idx", "sentence"],
    "flat_mentions": ["url", "para_idx", "sent_idx", "begin", "end", "db", "id",
                      "entry_name", "score"],
    "statements": ["url", "para_idx", "sent_idx", "bel_statement", "evidence"],
    "triples": TRIPLE_COLS,
    # dense ids are deterministic, so the graph tables agree id for id
    "nodes": ["node_id", "name", "label", "type", "url"],
    "edges": ["edge_id", "s", "t", "interaction", "bel_expression"],
}


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(cols).collect())


def _python_nodes(df) -> tuple[int, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("MapInPandas"), plan.count("ArrowEvalPython")


def _parquet_pages(spark, tmp_path, n, seed):
    # materialize first: the synthetic generator is itself a MapInPandas node
    path = str(tmp_path / f"pages_{n}_{seed}")
    pages_df(spark, n, seed=seed).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_fused_equals_modular(spark, tmp_path):
    pages = pages_df(spark, 40, seed=5)
    alias_rows = build_alias_rows(5)
    modular = run_pipeline(spark, pages, alias_rows, workdir=str(tmp_path))["triples"]
    fused = extract_triples_fused(pages, alias_rows)
    a = _rows(modular, TRIPLE_COLS)
    assert a == _rows(fused, TRIPLE_COLS)
    assert len(a) > 50


def _assert_lazy_equals_checkpointed(spark, tmp_path, extractor):
    pages = pages_df(spark, 40, seed=7)
    alias_rows = build_alias_rows(5)
    lazy = run_pipeline(spark, pages, alias_rows, extractor=extractor, persist=True)
    ckpt = run_pipeline(
        spark, pages, alias_rows, extractor=extractor, workdir=str(tmp_path)
    )
    try:
        for stage, cols in STAGE_COLS.items():
            got = _rows(lazy[stage], cols)
            assert got == _rows(ckpt[stage], cols), stage
            assert got, stage
    finally:
        spark.catalog.clearCache()


def test_fused_lazy_pipeline_stages_equal_modular(spark, tmp_path):
    """Lazy run_pipeline derives every stage from one crossing; each must
    match the checkpointed modular stage table row-for-row."""
    _assert_lazy_equals_checkpointed(spark, tmp_path, "sentence")


def test_fused_lazy_block_pipeline_stages_equal_modular(spark, tmp_path):
    """Same for the block engine: its statements ride on each paragraph's
    sent_idx = 0 sentence row of the one crossing."""
    _assert_lazy_equals_checkpointed(spark, tmp_path, "block")


def test_fused_lazy_single_python_crossing(spark, tmp_path):
    pages = _parquet_pages(spark, tmp_path, 10, 9)
    alias_rows = build_alias_rows(5)
    for extractor in ("sentence", "block"):
        triples = run_pipeline(spark, pages, alias_rows, extractor=extractor)["triples"]
        assert _python_nodes(triples) == (1, 0), extractor


def test_fused_block_equals_modular_block(spark, tmp_path):
    """extract_triples_fused_block (one crossing) must be row-identical to
    the checkpointed run_pipeline(extractor="block") triples table."""
    pages = pages_df(spark, 40, seed=5)
    alias_rows = build_alias_rows(5)
    modular = run_pipeline(
        spark, pages, alias_rows, extractor="block", workdir=str(tmp_path)
    )["triples"]
    fused = extract_triples_fused_block(pages, alias_rows)
    a = _rows(modular, TRIPLE_COLS)
    assert a == _rows(fused, TRIPLE_COLS)
    assert len(a) > 50


def test_fused_block_single_python_crossing(spark, tmp_path):
    pages = _parquet_pages(spark, tmp_path, 10, 9)
    triples = extract_triples_fused_block(pages, build_alias_rows(5))
    assert _python_nodes(triples) == (1, 0)
    plan = triples._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only: no shuffle before the sink


def test_modular_stages_evaluate_each_udf_once(spark, tmp_path):
    """Each modular stage holds exactly one Python node: a filter on a UDF
    column, pushed below the projection, would evaluate the UDF twice."""
    pages = _parquet_pages(spark, tmp_path, 10, 9)
    alias_rows = build_alias_rows(9)
    paragraphs = extract_paragraphs(pages).localCheckpoint()
    sentences = split_into_sentences(paragraphs).localCheckpoint()
    mentions = detect_mentions(sentences, alias_rows).localCheckpoint()
    statements = extract_statements(mentions).localCheckpoint()
    stages = {
        "extract_paragraphs": (extract_paragraphs(pages), (0, 1)),
        "split_into_sentences": (split_into_sentences(paragraphs), (0, 1)),
        "detect_mentions": (detect_mentions(sentences, alias_rows), (0, 1)),
        "extract_statements": (extract_statements(mentions), (0, 1)),
        "extract_cooccurrence": (extract_cooccurrence(mentions), (0, 1)),
        "parse_triples": (parse_triples(statements), (0, 1)),
        "parse_triples_unary": (parse_triples(statements, keep_unary=True), (0, 1)),
        "extract_statements_extended": (
            extract_statements_extended(paragraphs, alias_rows), (1, 0)
        ),
    }
    for name, (df, expected) in stages.items():
        assert _python_nodes(df) == expected, name
    assert statements.count() > 0
    # the single evaluation keeps the rows: unary statements survive only
    # with keep_unary
    n_unary = parse_triples(statements, keep_unary=True).count()
    assert n_unary == statements.count() >= parse_triples(statements).count()


def _short_pages(spark):
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("u://short-html", ts, b"<p>too short</p><p>BRCA1 and TP53.</p>", None, "en"),
        ("u://short-text", ts, None, "tiny line\n\nBRCA1 binds TP53.", "en"),
        ("u://null", ts, None, None, "en"),
    ]
    return spark.createDataFrame(rows, schema=PAGES).repartition(2)


def _fields(schema):
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.parametrize("case", ["empty_dictionary", "short_paragraphs"])
def test_typed_empty_outputs(spark, case):
    """Every public shape comes back typed and empty (no Arrow cast error)
    when nothing is extracted: an empty alias dictionary over real pages,
    or pages whose paragraphs are all shorter than 20 chars."""
    if case == "empty_dictionary":
        pages, alias_rows = pages_df(spark, 8, seed=3), []
    else:
        pages, alias_rows = _short_pages(spark), build_alias_rows(3)
    shapes = {
        "extract_triples_fused": (extract_triples_fused(pages, alias_rows), TRIPLES),
        "extract_triples_fused_block": (
            extract_triples_fused_block(pages, alias_rows), TRIPLES
        ),
        "extract_statements_extended": (
            extract_statements_extended(extract_paragraphs(pages), alias_rows),
            STATEMENTS,
        ),
    }
    for engine in ("sentence", "block"):
        shapes[f"sentence_level_{engine}"] = (
            extract_sentence_level_fused(pages, alias_rows, engine=engine),
            SENT_EXTRACT,
        )
    for name, (df, schema) in shapes.items():
        assert _fields(df.schema) == _fields(schema), name
        rows = df.collect()
        if name.startswith("sentence_level") and case == "empty_dictionary":
            assert rows and all(not r.mentions and not r.results for r in rows), name
        else:
            assert rows == [], name
    for extractor in ("sentence", "block"):
        res = run_pipeline(spark, pages, alias_rows, extractor=extractor)
        for stage in ("flat_mentions", "statements", "triples", "nodes", "edges"):
            assert res[stage].collect() == [], (extractor, stage)
