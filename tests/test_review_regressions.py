"""Regression pins for defects found in review: as-of payload stitching,
connected-components convergence, salted-join semantics, ANN multi-probe,
the literal-array error message."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_map_reduce_spark.operators.clustering import connected_components
from hadoop_map_reduce_spark.operators.relational import asof_join_backward
from hadoop_map_reduce_spark.operators.skew import salted_join


def test_asof_payload_is_atomic_per_row(spark):
    """A null field in the latest right row must NOT be backfilled from an
    older right row (payload travels as one struct)."""
    left = spark.createDataFrame(
        [(100, 7, 5)], "event_id long, user_id long, t long"
    )
    right = spark.createDataFrame(
        [(7, 1, 11, "old"), (7, 3, None, "new")],
        "k long, rt long, payload_a int, payload_b string",
    )
    out = asof_join_backward(
        left, right, on="user_id", right_on="k",
        left_time="t", right_time="rt",
        payload_cols=["payload_a", "payload_b"],
    ).collect()
    assert len(out) == 1
    # Latest right row at rt=3 wins wholesale: (None, "new"), never
    # the stitched (11, "new").
    assert out[0].payload_a is None
    assert out[0].payload_b == "new"


def test_connected_components_long_chain(spark):
    """A 30-node chain (diameter 29) must fully converge to one component."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 31


def test_connected_components_raises_when_capped(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=3)


def test_salted_join_rejects_right_outer(spark):
    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", "k", how="full_outer")


def test_ann_probe_flips_two_probes_more_buckets(spark):
    from hadoop_map_reduce_spark.operators.similarity import ann_topk_lsh

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    r1 = ann_topk_lsh(emb, q, k=5, dim=8, n_planes=5, probe_flips=1)
    r2 = ann_topk_lsh(emb, q, k=5, dim=8, n_planes=5, probe_flips=2)
    # More probes can only widen the candidate set.
    n1, n2 = r1.count(), r2.count()
    assert n2 >= n1
    with pytest.raises(ValueError, match="probe_flips"):
        ann_topk_lsh(emb, q, k=5, dim=8, n_planes=5, probe_flips=3)


def test_apply_cdc_semantics(spark):
    """apply_cdc unit semantics: tombstoned keys vanish, updated keys
    carry the batch row, untouched keys survive unchanged."""
    from pyspark.sql import functions as F

    from hadoop_map_reduce_spark.operators.relational import apply_cdc

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k INT, v STRING"
    )
    batch = spark.createDataFrame(
        [("U", 2, "b2"), ("D", 3, None), ("I", 9, "i9")],
        "op STRING, k INT, v STRING",
    )
    got = {r.k: r.v for r in apply_cdc(target, batch, on=["k"]).collect()}
    assert got == {1: "a", 2: "b2", 4: "d", 9: "i9"}


def test_doubles_sql_names_itself_on_non_finite():
    """``doubles_sql`` is called directly (the ADC trees in
    operators/pq.py), so its error must name it, not ``lit_doubles``."""
    from hadoop_map_reduce_spark.functions.vectors import doubles_sql

    assert doubles_sql([[1.0, 2.5]]) == "array(array(1.0D,2.5D))"
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="^doubles_sql: non-finite literal$"):
            doubles_sql([0.0, bad])
