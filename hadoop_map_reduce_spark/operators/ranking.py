"""Distributed exact total-order ranking — no single-partition sort.

``Window.orderBy`` with no partition key is the classic 100-TB scale
killer (the whole input sorts on ONE task); this operator computes the
same exact global row rank with the standard distributed recipe:

1. ``repartitionByRange(P, *order)`` — range-partition on the total
   order (P fixed; an explicit partition count also keeps AQE from
   re-coalescing, though contiguous coalescing would stay correct).
2. local ``row_number`` within each range partition,
3. per-partition row counts (P scalars), observed by the eager
   checkpoint job that materializes step 2 — no extra job, no
   aggregate over the ranked rows; the driver turns them into prefix-sum
   offsets and the total row count, which ride back as literals,
4. global rank = partition offset + local rank; NTILE from the rank by
   the standard first-(N mod k)-buckets-get-one-extra rule.

Correctness requires a TOTAL order (include a unique tie-break column):
with distinct sort keys, every range split yields the same global ranks
regardless of where the boundaries land, so the result is invariant to
scan-split sizing and shuffle layout — pinned by the invariance sweep.
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_map_reduce_spark.checkpoint import local_checkpoint
from hadoop_map_reduce_spark.functions.vectors import lit_longs

_RANGE_PARTS = 32


def with_global_rank(
    df: DataFrame,
    order: Sequence[Column],
    out: str = "global_rank",
) -> DataFrame:
    """``df`` plus an exact 1-based global rank over ``order`` (which
    must be a total order — add a unique tie-break), computed without
    any single-partition exchange.

    The partition-id'd rows are eagerly checkpointed, and that same job
    observes the per-partition counts: ``repartitionByRange`` samples
    its boundaries with a seed that involves the materialization's RDD
    id, so two independent materializations of the exchange could
    disagree on ``_pid`` and the offsets would silently misalign. The
    checkpoint pins ONE partition assignment, and the counts are read
    from exactly the rows it stored — correctness by construction, not
    by optimizer courtesy. The checkpointed set is the ranking input
    (e.g. a per-user table), not the raw fact table."""
    ranked, _ = _ranked_with_total(df, order, out)
    return ranked


def _ranked_with_total(
    df: DataFrame, order: Sequence[Column], out: str
) -> tuple[DataFrame, int]:
    """(ranked rows, total row count) — the total is exposed so NTILE's
    bucket sizes are driver-side literals."""
    cols = list(df.columns)
    # One SQL expression, not one Column per partition: building 32
    # Columns through py4j cost ~0.1 s of driver time per call (4-core
    # host, Spark 4.1).
    per_part = ", ".join(f"count_if(_pid = {i})" for i in range(_RANGE_PARTS))
    local, _, seen = local_checkpoint(
        df.repartitionByRange(_RANGE_PARTS, *order)
        .select(*cols, F.spark_partition_id().alias("_pid"))
        .withColumn(
            "_lrank",
            F.row_number().over(Window.partitionBy("_pid").orderBy(*order)),
        ),
        F.expr(f"array({per_part})").alias("_counts"),
    )
    counts = seen["_counts"]
    offsets = lit_longs(list(accumulate(counts, initial=0))[:-1])
    ranked = local.select(
        *cols,
        (F.element_at(offsets, F.col("_pid") + 1) + F.col("_lrank")).alias(out),
    )
    return ranked, sum(counts)


def with_global_ntile(
    df: DataFrame,
    order: Sequence[Column],
    n: int,
    out: str,
) -> DataFrame:
    """``df`` plus the exact SQL ``NTILE(n) OVER (ORDER BY order)``
    bucket (1-based), via :func:`with_global_rank` and the observed row
    total. Bucket rule matches the SQL standard: with N rows the first
    ``N mod n`` buckets hold ``ceil(N/n)`` rows, the rest
    ``floor(N/n)``."""
    cols = list(df.columns)
    ranked, total = _ranked_with_total(df, order, "_grank")
    # Exact Python integers and long `div`, not `/` — double division
    # rounds above 2^53 rows, which would misbucket on a 100-TB input.
    q, r = divmod(total, n)
    big = (q + 1) * r  # rows in ceil-sized buckets
    bucket = F.expr(
        f"CASE WHEN _grank <= {big}L THEN (_grank - 1) div {q + 1}L + 1 "
        f"ELSE {r + 1}L + (_grank - {big + 1}L) div {max(q, 1)}L END"
    )
    return ranked.select(*cols, bucket.cast("long").alias(out))
