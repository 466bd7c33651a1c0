"""Tracked localCheckpoint: release() must actually free block-manager
storage (DataFrame.unpersist does not — it only uncaches cache-manager
entries), and the iterative operators built on it must not accumulate
one persisted RDD per iteration."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_map_reduce_spark.checkpoint import _persisted_ids, local_checkpoint


def _n_persisted(spark) -> int:
    return len(_persisted_ids(spark.sparkContext))


def test_release_frees_blocks_and_successor_survives(spark):
    base = _n_persisted(spark)
    df = spark.range(100).withColumn("y", F.col("id") * 2)
    cp1, release1, observed = local_checkpoint(df)
    assert observed == {}  # no metrics asked for, none observed
    assert _n_persisted(spark) == base + 1
    cp2, release2, _ = local_checkpoint(cp1.withColumn("y", F.col("y") + 1))
    assert _n_persisted(spark) == base + 2
    release1()
    assert _n_persisted(spark) == base + 1
    # The successor checkpoint materialized before the release, so it
    # must still be fully usable.
    assert cp2.count() == 100
    release1()  # idempotent
    release2()
    assert _n_persisted(spark) == base


def test_bpe_train_leaves_no_persisted_rdds(spark):
    from hadoop_map_reduce_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
        "doc_id long, text string",
    )
    base = _n_persisted(spark)
    merges = bpe_train(docs, n_merges=6)
    assert len(merges) == 6
    assert _n_persisted(spark) == base


def test_connected_components_leaves_one_persisted_rdd(spark):
    """Only the FINAL label checkpoint (backing the returned DataFrame)
    may remain; intermediate iterations must be freed."""
    from hadoop_map_reduce_spark.operators.clustering import (
        connected_components,
    )

    # A chain 0-1-2-...-9 needs several propagation iterations.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    base = _n_persisted(spark)
    comp = connected_components(pairs)
    rows = {(r.node, r.component) for r in comp.collect()}
    assert rows == {(i, 0) for i in range(10)}
    assert _n_persisted(spark) <= base + 1


# ---------------------------------------------------------------------------
# Observed aggregates riding the checkpoint job
# ---------------------------------------------------------------------------

_RETRY_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
marker = sys.argv[2]
from pyspark import TaskContext
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F
from hadoop_map_reduce_spark.checkpoint import local_checkpoint
from hadoop_map_reduce_spark.operators.ranking import with_global_ntile

spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
spark.sparkContext.setLogLevel("OFF")


@F.udf("long")
def flaky(x):
    ctx = TaskContext.get()
    if ctx.attemptNumber() == 0 and ctx.partitionId() == 0:
        open(marker, "a").close()
        raise RuntimeError("injected first-attempt failure")
    return x


df = spark.range(0, 1000, 1, 4).select(flaky(F.col("id")).alias("id"))
cp, release, seen = local_checkpoint(
    df, F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
)
assert seen == {"n": 1000, "s": 499500}, seen
assert cp.count() == 1000
release()

metric = (F.xxhash64(F.col("id")) % 37).alias("metric")
base = spark.range(0, 500, 1, 4).select(
    flaky(F.col("id")).alias("id"), metric
)
order = [F.col("metric").asc(), F.col("id").asc()]
want = {
    r["id"]: r["b"]
    for r in spark.range(500).select("id", metric)
    .select("id", F.ntile(7).over(Window.orderBy(*order)).alias("b"))
    .collect()
}
got = {r["id"]: r["b"] for r in with_global_ntile(base, order, 7, "b").collect()}
assert got == want
spark.stop()
print("RETRY-OK")
"""


def test_observed_count_exact_under_task_retry(tmp_path):
    """A task that fails on its first attempt and succeeds on retry must
    not double-count: the observed metrics sit in the checkpoint job's
    result stage, whose accumulator updates are merged once per
    partition. Runs in a fresh ``local[2,2]`` process (two attempts per
    task) so the shared test session's retry setting is untouched."""
    import subprocess
    import sys

    from tests.conftest import REPO

    marker = tmp_path / "failed-once"
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(REPO), str(marker)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RETRY-OK" in proc.stdout
    assert marker.exists(), "the injected failure never fired"


def test_observed_metrics_on_empty_input(spark):
    """Empty input — no partitions at all, or every row filtered out —
    observes ``count`` as 0 (not None) and ``sum`` as None, and the
    distributed NTILE returns no rows without error."""
    from pyspark.sql import Window

    from hadoop_map_reduce_spark.operators.ranking import with_global_ntile

    for df in (spark.range(0), spark.range(50).filter(F.col("id") > 100)):
        cp, release, seen = local_checkpoint(
            df, F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
        )
        assert seen == {"n": 0, "s": None}
        assert cp.collect() == []
        release()
        order = [F.col("id").asc()]
        assert with_global_ntile(df, order, 5, "b").collect() == []
        assert df.select(F.ntile(5).over(Window.orderBy(*order))).collect() == []


def _construction_jobs(spark, query: str, sf_dir: str) -> int:
    from hadoop_map_reduce_spark.plans.registry import REGISTRY

    sc = spark.sparkContext
    group = f"construct-{query}"
    sc.setJobGroup(group, query)
    try:
        REGISTRY[query].fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_iterative_queries_construction_job_budget(spark, sf_dir):
    """Spark jobs run while building each iterative query at sf0.001 on
    the test session. Counts ride the checkpoint jobs, so a trailing
    ``.count()`` (or scalar collect) added back to a loop exceeds the
    budget. Figures before → after counts moved onto the checkpoints:
    graph_kcore_bounded 26 → 12, graph_pagerank 9 → 6,
    events_rfm_segments 26 → 14."""
    import hadoop_map_reduce_spark.plans  # noqa: F401  (fills REGISTRY)

    budget = {
        "graph_kcore_bounded": 12,
        "graph_pagerank": 6,
        "events_rfm_segments": 14,
    }
    got = {q: _construction_jobs(spark, q, sf_dir) for q in budget}
    assert all(got[q] <= budget[q] for q in budget), got
