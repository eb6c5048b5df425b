"""One extraction kernel behind one Python crossing.

The reference extracts one paragraph at a time: ground the mentions
(grounding_genes.py:13-52), extract statements (sentence_level_extraction.py
:43-78), split them into triples (transform_bel_statements.py:1-76). That
loop lives here once:

* ``extract_kernel`` — pure Python. ``(para_idx, paragraph)`` pairs -> one
  row per sentence: ``(para_idx, sent_idx, sentence, mentions, parts)``,
  where ``parts`` are ``(subj, pred, obj, bel_statement, evidence)``
  tuples. Two engines: ``sentence`` runs the exact-phrase engine
  (``statements.extract_parts_from_sentence``) on each sentence;
  ``block`` runs the extended paragraph engine
  (``extraction.extract_from_block``) on the normalized paragraph, and the
  paragraph's results ride on its ``sent_idx = 0`` row.
* ``crossing`` — the one ``mapInPandas``. It owns the ``lang`` filter, the
  alias broadcast, the per-worker matcher cache (``mentions._get_matcher``),
  the batch loop (``extract_batch``, which also runs without Spark), and
  typed empty frames derived from the output schema.
* The public entry points are projections of the kernel rows
  (``triple_rows``, ``statement_rows``, ``sentence_rows``):
  ``extract_triples_fused`` / ``extract_triples_fused_block`` emit flat
  TRIPLES rows; ``extract_sentence_level_fused`` emits sentence rows with
  mention structs and parsed results — the backbone of lazy
  ``plans.pipeline.run_pipeline``, whose stages are relational views of it;
  ``extraction.extract_statements_extended`` emits block STATEMENTS from a
  paragraphs table.

The modular per-stage UDFs (``operators.paragraphs`` / ``mentions`` /
``statements`` / ``triples``) remain for checkpointed runs, where each stage
is a table; tests pin every projection here to that chain, stage by stage.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions.bel import split_statement
from ..schemas import MENTION, SENTENCES, TRIPLES
from ..sources.html_extract import extract_paragraphs_text, split_sentences
from .extraction import extract_from_block, normalize_block_text
from .mentions import AliasMatcher, _get_matcher
from .statements import extract_parts_from_sentence

ENGINES = ("sentence", "block")


def _mentions(matcher: AliasMatcher, text: str) -> list[dict]:
    return [
        {"begin": b, "end": e, "alias": a, "db": db, "id": i, "entry_name": n, "score": p}
        for (b, e, a, db, i, n, p) in matcher.find(text)
    ]


def extract_kernel(
    paragraphs: Iterable[tuple[int, str]],
    matcher: AliasMatcher,
    engine: str = "sentence",
    sentences: bool = True,
) -> Iterator[tuple]:
    """``(para_idx, paragraph)`` pairs -> ``(para_idx, sent_idx, sentence,
    mentions, parts)`` rows, one per sentence.

    ``sentence`` engine: parts come pre-split from the sentence engine
    (``split_statement(bel_statement)`` would return exactly them — pinned
    by tests/test_bel_properties.py). ``block`` engine: every block
    statement is split once; unary or unsplittable statements keep ``None``
    parts, so the statements view keeps them and the triples view drops
    them. The block results ride on the paragraph's ``sent_idx = 0`` row
    (a paragraph of ``extract_paragraphs_text`` always has a sentence);
    with ``sentences=False`` the block engine skips the sentence split and
    the sentence mentions and yields that one row per paragraph, with
    ``sentence`` and ``mentions`` set to ``None``.
    """
    for para_idx, para in paragraphs:
        if engine != "block":
            for sent_idx, sentence in enumerate(split_sentences(para)):
                ms = _mentions(matcher, sentence)
                yield para_idx, sent_idx, sentence, ms, extract_parts_from_sentence(
                    sentence, ms
                )
            continue
        block = normalize_block_text(para)
        parts = [
            (*split_statement(stmt), stmt, evidence)
            for stmt, evidence in extract_from_block(block, _mentions(matcher, block))
        ]
        if not sentences:
            yield para_idx, 0, None, None, parts
            continue
        for sent_idx, sentence in enumerate(split_sentences(para)):
            yield para_idx, sent_idx, sentence, _mentions(matcher, sentence), (
                [] if sent_idx else parts
            )


def _pages(pdf: pd.DataFrame) -> Iterator[tuple]:
    for url, warc_ts, html, text in zip(
        pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"]
    ):
        yield url, warc_ts, enumerate(extract_paragraphs_text(html, text))


# pandas dtypes Arrow casts to the Spark type; object for everything else
_EMPTY_DTYPES = {"timestamp": "datetime64[us]", "int": "int32"}


def _empty_frame(schema: StructType) -> pd.DataFrame:
    # a frame built from empty lists has object columns, which Arrow cannot
    # cast to timestamp/int — every column gets its schema's dtype instead
    return pd.DataFrame(
        {
            f.name: pd.Series([], dtype=_EMPTY_DTYPES.get(f.dataType.simpleString(), "object"))
            for f in schema.fields
        }
    )


def extract_batch(
    pdf: pd.DataFrame,
    matcher: AliasMatcher,
    project: Callable[..., Iterable[tuple]],
    engine: str = "sentence",
    sentences: bool = True,
    read: Callable[[pd.DataFrame], Iterator[tuple]] = _pages,
) -> list[tuple]:
    """One input batch -> output tuples: ``read`` turns the batch into
    ``(url, warc_ts, paragraphs)`` items, the kernel turns paragraphs into
    sentence rows, and ``project(url, warc_ts, *kernel_row)`` turns each
    into output tuples. The body of the crossing, runnable without Spark."""
    rows: list[tuple] = []
    for url, warc_ts, paragraphs in read(pdf):
        for row in extract_kernel(paragraphs, matcher, engine, sentences):
            rows.extend(project(url, warc_ts, *row))
    return rows


def crossing(
    df: DataFrame,
    alias_rows: list,
    schema: StructType,
    project: Callable[..., Iterable[tuple]],
    engine: str = "sentence",
    sentences: bool = True,
    lang: str | None = "en",
    read: Callable[[pd.DataFrame], Iterator[tuple]] = _pages,
) -> DataFrame:
    """The one Python crossing: ``df`` (filtered to ``lang`` unless None)
    -> ``extract_batch`` per Arrow batch -> ``schema`` rows. ``project``
    emits tuples in ``schema`` order."""
    if engine not in ENGINES:
        raise ValueError(f"unknown extractor {engine!r}")
    bc = df.sparkSession.sparkContext.broadcast(list(alias_rows))
    token = uuid.uuid4().hex  # cache key; never id(), addresses are reused
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = _get_matcher(bc, token)
        for pdf in batches:
            rows = extract_batch(pdf, matcher, project, engine, sentences, read)
            yield pd.DataFrame(dict(zip(names, zip(*rows)))) if rows else _empty_frame(schema)

    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return df.mapInPandas(run, schema=schema)


def triple_rows(url, warc_ts, para_idx, sent_idx, _sentence, _mentions, parts):
    return [
        (url, warc_ts, para_idx, sent_idx, *p)
        for p in parts
        if p[0] is not None and p[1] is not None and p[2] is not None
    ]


def statement_rows(url, warc_ts, para_idx, sent_idx, _sentence, _mentions, parts):
    return [(url, warc_ts, para_idx, sent_idx, stmt, ev) for *_spo, stmt, ev in parts]


# results.subj/pred/obj are pre-parsed so the triples view needs no UDF
_SENT_RESULT = StructType(
    [
        StructField("subj", StringType(), True),
        StructField("pred", StringType(), True),
        StructField("obj", StringType(), True),
        StructField("bel_statement", StringType(), False),
        StructField("evidence", StringType(), False),
    ]
)

SENT_EXTRACT = StructType(
    list(SENTENCES.fields)
    + [
        StructField("mentions", ArrayType(MENTION), False),
        StructField("results", ArrayType(_SENT_RESULT), False),
    ]
)
_RESULT_KEYS = _SENT_RESULT.fieldNames()


def sentence_rows(url, warc_ts, para_idx, sent_idx, sentence, mentions, parts):
    results = [dict(zip(_RESULT_KEYS, p)) for p in parts]
    return ((url, warc_ts, para_idx, sent_idx, sentence, mentions, results),)


def extract_triples_fused(pages: DataFrame, alias_rows: list) -> DataFrame:
    """pages -> TRIPLES with the sentence engine, one Python crossing."""
    return crossing(pages, alias_rows, TRIPLES, triple_rows)


def extract_triples_fused_block(pages: DataFrame, alias_rows: list) -> DataFrame:
    """pages -> TRIPLES with the EXTENDED block engine, one Python crossing.

    The block engine (``extraction.extract_from_block``: coordination,
    displaced-agent passives, nominalizations, fold continuation, knockout
    inference) earns the real-gold recall. Triples carry ``sent_idx = 0``
    (evidence spans the paragraph), as in ``run_pipeline(extractor="block")``."""
    return crossing(pages, alias_rows, TRIPLES, triple_rows, "block", sentences=False)


def extract_sentence_level_fused(
    pages: DataFrame,
    alias_rows: list,
    lang: str | None = "en",
    engine: str = "sentence",
) -> DataFrame:
    """pages -> SENT_EXTRACT: sentence rows + full mention structs + parsed
    statements, one Python crossing.

    This is the backbone of lazy ``plans.pipeline.run_pipeline``: its
    sentences, mentions, flat_mentions, statements and triples stages are
    relational projections/explodes of this output, row-identical to the
    modular stages (asserted in tests/test_fused.py). With
    ``engine="block"`` the mentions stay per sentence and a paragraph's
    block statements ride on its ``sent_idx = 0`` row."""
    return crossing(pages, alias_rows, SENT_EXTRACT, sentence_rows, engine, lang=lang)
