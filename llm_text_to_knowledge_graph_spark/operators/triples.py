"""P1/P2 — BEL statement parse -> (subj, pred, obj) triples.

Reference parity: transform_bel_statements.py:1-105. The balanced-paren
parse is not regex-expressible (nesting), so it runs as an Arrow-batched
pandas UDF over the pure function in functions/bel.py, evaluated once per
statement.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions.bel import split_statement

_SPLIT_SCHEMA = StructType(
    [
        StructField("subj", StringType(), True),
        StructField("pred", StringType(), True),
        StructField("obj", StringType(), True),
    ]
)


def _make_split_udf(keep_unary: bool):
    # array of 0 or 1 parts: the explode below is the (subj & pred & obj)
    # guard, so no filter reads the UDF column — a filter on it would be
    # pushed below the projection with the UDF inlined, evaluating it twice
    @F.pandas_udf(ArrayType(_SPLIT_SCHEMA))
    def _split(stmt: pd.Series) -> pd.Series:
        parts = [split_statement(s) for s in stmt]
        return pd.Series(
            [
                [dict(zip(("subj", "pred", "obj"), p))]
                if keep_unary or None not in p
                else []
                for p in parts
            ]
        )

    return _split


_split_udf = _make_split_udf(keep_unary=False)
_split_unary_udf = _make_split_udf(keep_unary=True)


def parse_triples(statements: DataFrame, keep_unary: bool = False) -> DataFrame:
    """STATEMENTS -> TRIPLES. Edge rows require subj & pred & obj all present
    (transform_bel_statements.py:88 guard); unary statements can be kept for
    node-only semantics when ``keep_unary``."""
    split = _split_unary_udf if keep_unary else _split_udf
    return statements.select(
        "url",
        "warc_ts",
        "para_idx",
        "sent_idx",
        F.explode(split(F.col("bel_statement"))).alias("p"),
        "bel_statement",
        "evidence",
    ).select(
        "url",
        "warc_ts",
        "para_idx",
        "sent_idx",
        "p.subj",
        "p.pred",
        "p.obj",
        "bel_statement",
        "evidence",
    )
