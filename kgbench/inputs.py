"""Seeded inputs: synthetic crawl pages and their planted gold, written to
parquet once per run, before any timing.

Every page is ``corpus.gen_doc(seed, doc_id, entities)`` with the entity
table built from the same seed, so the alias dictionary the jobs receive
(``corpus.build_alias_rows(seed)``) grounds exactly the planted mentions.
A workload picks which doc ids it draws:

* ``all``  - 0, 1, 2, ...: the mixed crawl (~90% HTML, ~10% pre-extracted
  text, ~6% non-English).
* ``text`` - ids = 7 (mod 10), which ``gen_doc`` emits as pre-extracted
  text with ``html`` null.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from llm_text_to_knowledge_graph_spark.corpus import build_entities, gen_doc
from llm_text_to_knowledge_graph_spark.schemas import PAGES

GOLD_STRUCT = StructType(
    [
        StructField("para_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("bel_statement", StringType(), False),
        StructField("evidence", StringType(), False),
    ]
)
GENERATED = StructType(list(PAGES.fields) + [StructField("gold", ArrayType(GOLD_STRUCT), False)])


def doc_id(kind: str, k: int) -> int:
    """The k-th doc id of a page kind (see the module docstring)."""
    if kind == "all":
        return k
    if kind == "text":
        return 10 * k + 7
    raise ValueError(f"unknown page kind {kind!r}")


def generate_rows(seed: int, kind: str, ks, entities: list[dict]) -> pd.DataFrame:
    """Pages (PAGES columns) plus a ``gold`` list column for the k-th docs."""
    docs = [gen_doc(seed, doc_id(kind, int(k)), entities) for k in ks]
    out = {c: [d[c] for d in docs] for c in ("url", "warc_ts", "html", "text", "lang")}
    out["gold"] = [
        [
            {"para_idx": p, "sent_idx": s, "bel_statement": stmt, "evidence": ev}
            for p, s, stmt, _subj, _rel, _obj, ev in d["gold"]
        ]
        for d in docs
    ]
    return pd.DataFrame(out)


def write_inputs(spark, seed: int, kind: str, n_pages: int, files: int, path: str):
    """Generate ``n_pages`` pages of ``kind`` into one parquet dataset of
    ``files`` files, in one pass. Returns (pages, gold) DataFrames over it:
    pages has the PAGES columns, gold has (url, para_idx, sent_idx,
    bel_statement, evidence)."""

    def gen(batches):
        entities = build_entities(seed)
        for pdf in batches:
            yield generate_rows(seed, kind, pdf["id"], entities)

    spark.range(0, n_pages, numPartitions=files).mapInPandas(gen, schema=GENERATED).write.parquet(
        path
    )
    generated = spark.read.parquet(path)
    pages = generated.select(*PAGES.names)
    gold = generated.select("url", F.explode("gold").alias("g")).select("url", "g.*")
    return pages, gold
