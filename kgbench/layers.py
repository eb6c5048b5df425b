"""Single-core replay of the per-page Python layers, with a span around
every call into each layer's public function.

The jobs run these functions inside Spark's Python workers, where the
benchmark cannot see them. The traced run replays the same calls on the
same pages in the benchmark's own process, so each layer's self time and
counts are measured where the work happens. Times are single-core seconds.
"""

from __future__ import annotations

from llm_text_to_knowledge_graph_spark.functions.bel import split_statement
from llm_text_to_knowledge_graph_spark.operators.extraction import (
    extract_from_block,
    normalize_block_text,
)
from llm_text_to_knowledge_graph_spark.operators.mentions import AliasMatcher
from llm_text_to_knowledge_graph_spark.operators.statements import (
    extract_parts_from_sentence,
)
from llm_text_to_knowledge_graph_spark.sources.html_extract import (
    extract_paragraphs_text,
    split_sentences,
)

from .trace import Tracer


def _mention_dicts(found) -> list[dict]:
    return [
        {"begin": b, "end": e, "alias": a, "db": db, "id": i, "entry_name": n, "score": p}
        for (b, e, a, db, i, n, p) in found
    ]


def replay(tracer: Tracer, pages, alias_rows: list, engine: str) -> None:
    """Run the per-page layers over ``pages`` (a pandas frame of PAGES rows).

    ``engine="sentence"``: paragraphs -> sentences -> mentions -> sentence
    statements, the path of ``extract_triples_fused`` and lazy
    ``run_pipeline``. ``engine="block"``: paragraphs -> normalized block ->
    mentions -> ``extract_from_block`` -> statement split, the statements
    path of ``run_pipeline(extractor="block")``.
    """
    span, add = tracer.span, tracer.add
    with span("mentions.build"):
        matcher = AliasMatcher(alias_rows)
    for html, text, lang in zip(pages["html"], pages["text"], pages["lang"]):
        if lang != "en":
            continue
        add("html_extract.pages")
        add("html_extract.bytes_in", len(html) if html is not None else len((text or "").encode()))
        with span("html_extract.paragraphs"):
            paras = extract_paragraphs_text(html, text)
        add("html_extract.paragraphs", len(paras))
        if not paras:
            add("html_extract.pages_empty")
        for para in paras:
            if engine == "sentence":
                with span("html_extract.sentences"):
                    sents = split_sentences(para)
                add("html_extract.sentences", len(sents))
                for sent in sents:
                    with span("mentions.find"):
                        found = matcher.find(sent)
                    add("mentions.calls")
                    add("mentions.mentions", len(found))
                    ms = _mention_dicts(found)
                    with span("statements.extract"):
                        parts = extract_parts_from_sentence(sent, ms)
                    add("statements.calls")
                    add("statements.triples", len(parts))
            else:
                with span("extraction.normalize"):
                    block = normalize_block_text(para)
                with span("mentions.find"):
                    found = matcher.find(block)
                ms = _mention_dicts(found)
                with span("extraction.block"):
                    stmts = extract_from_block(block, ms)
                with span("extraction.split"):
                    kept = sum(all(split_statement(s)) for s, _ev in stmts)
                add("extraction.statements", len(stmts))
                add("extraction.kept", kept)
