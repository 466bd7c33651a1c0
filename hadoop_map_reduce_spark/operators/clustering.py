"""Duplicate-cluster resolution: connected components over near-dup pairs.

After near-dup detection emits pairs, corpus curation needs CLUSTERS
(keep one representative per component). Connected components is the
canonical iterative algorithm the relational operators can't express in
one pass; implemented as min-label propagation — each iteration is two
shuffles, and the iteration count is O(graph diameter). Duplicate
clusters in practice have tiny diameters (stars / short chains), but the
loop runs to CONVERGENCE, not to a silent cap: if ``max_iterations`` is
hit with labels still changing, it raises instead of returning wrong
components.

Scale notes: the edge set is persisted (it drives two joins per
iteration); labels are re-materialized each iteration via eager
``localCheckpoint`` to cut the growing lineage, and the convergence
count is observed by that same checkpoint job, so no iteration executes
twice and no extra count job runs.
Each iteration's checkpoint blocks are released once the next
checkpoint materializes (``hadoop_map_reduce_spark.checkpoint``), so
block-manager storage holds one label table, not O(diameter) copies;
only the FINAL iteration's checkpoint survives — it backs the returned
DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_map_reduce_spark.checkpoint import local_checkpoint


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 100,
) -> DataFrame:
    """Resolve undirected edges into components: (node, component) where
    component is the minimum node id reachable from ``node``.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iterations`` (never silently returns a partial clustering).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels, release, _ = local_checkpoint(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    try:
        for _ in range(max_iterations):
            # Each node proposes its neighbors' minimum current label.
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_min"))
            )
            # One execution per iteration: the checkpoint job also
            # observes how many labels changed.
            updated, next_release, seen = local_checkpoint(
                labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce("nbr_min", F.col("component")),
                    ).alias("component"),
                    F.col("component").alias("_old"),
                ),
                F.count_if(F.col("component") != F.col("_old")).alias("changed"),
            )
            # The new checkpoint is materialized; free the previous
            # iteration's blocks. The final checkpoint is never released
            # here — it backs the returned labels.
            release()
            release = next_release
            labels = updated.select("node", "component")
            if seen["changed"] == 0:
                # Clear the handle BEFORE returning: the final
                # checkpoint backs the returned labels and must stay
                # alive; every other exit (non-convergence, mid-
                # iteration exception) releases the live iteration's
                # blocks in the finally below.
                release = None
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (graph diameter exceeds the cap); raise "
            "max_iterations"
        )
    finally:
        edges.unpersist()
        if release is not None:
            release()


def dedup_representatives(
    pairs: DataFrame, all_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One representative per duplicate cluster: the minimum id of each
    connected component; singletons (no near-dup edges) represent
    themselves. Returns (doc_id, representative)."""
    comp = connected_components(pairs)
    return (
        all_ids.select(F.col(id_col))
        .join(comp, all_ids[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("representative"),
        )
    )


def cluster_retention(
    representatives: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """The curation step AFTER clustering: decide which member of each
    duplicate cluster survives. Policy: keep the member with the
    highest ``quality_col``, ties to the lowest id (the keep-longest /
    keep-best rule of production dedup pipelines — min-id
    representatives are cluster NAMES, not the docs you'd keep).

    Inputs: ``representatives`` = (id, representative) as produced by
    :func:`dedup_representatives`; ``quality`` = (id, quality).
    Returns (id, representative, kept_id, action∈{keep,remove}).

    Members missing a quality row are KEPT in the output (left join)
    and rank after every scored member (nulls-last ordering) — an
    incomplete quality table can therefore never silently drop a
    member or leave a cluster with no ``keep`` row (an all-unscored
    cluster keeps its lowest id).

    Scale shape: one broadcast-or-shuffle join on the id key plus ONE
    window shuffle keyed by representative — cluster sizes are the
    window partitions, bounded by the dedup density, never corpus-sized.
    """
    from pyspark.sql import Window

    joined = representatives.join(quality, id_col, "left")
    w = Window.partitionBy("representative").orderBy(
        F.col(quality_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        joined.withColumn(
            "kept_id", F.first(F.col(id_col)).over(w)
        )
        .select(
            F.col(id_col),
            "representative",
            "kept_id",
            F.when(F.col(id_col) == F.col("kept_id"), F.lit("keep"))
            .otherwise(F.lit("remove"))
            .alias("action"),
        )
    )


# ---------------------------------------------------------------------------
# Log-round connected components (large-star / small-star)
# ---------------------------------------------------------------------------


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star operation (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14, Alg. 2): every node connects its
    strictly-larger neighbors to the minimum of its closed neighborhood.
    One shuffle for the per-node min, one equi-join to emit."""
    nbrs = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("_m")
    )
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        # v > u >= m, so the emitted pair is never a self-loop.
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star operation: every node connects its
    smaller-or-equal neighbors (and itself) to the minimum of that set.
    Same narrow two-shuffle shape as :func:`_large_star`."""
    canon = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = canon.groupBy("u").agg(F.min("v").alias("_m"))
    return (
        canon.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .unionAll(mins.select("u", F.col("_m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_loground(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 64,
) -> tuple[DataFrame, int]:
    """Connected components in O(log n) rounds via alternating
    large-star / small-star (Kiveris et al., SoCC'14) — the 100-TB
    replacement for min-label propagation, whose round count is the
    graph DIAMETER (:func:`connected_components`; a 3000-node path
    needs 3000 rounds there and ~a dozen here).

    Returns ``(labels, n_rounds)``: labels is (node, component) with
    component = min node id of the component; ``nodes`` (a one-column
    ``node`` frame, optional) contributes isolated vertices as their
    own singleton components. Raises ``RuntimeError`` if the edge set
    is still changing after ``max_rounds`` pair-rounds.

    Scale shape: each round is two grouped mins + two equi-joins, all
    keyed on 8-byte node ids; the edge set never grows beyond the input
    (large-star emits one pair per directed neighbor above the pivot,
    small-star contracts toward star forests) and each round ends in an
    eager ``localCheckpoint`` so the plan stays constant-size — the
    ``graph_kcore_bounded`` discipline. Convergence is detected from a
    canonical checksum the round's checkpoint job observes, so no round
    executes twice and a representation change can never masquerade as
    progress.
    """
    edges = pairs.select(
        F.col(id_a).cast("long").alias("u"),
        F.col(id_b).cast("long").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    star, release, _ = local_checkpoint(edges)
    prev_chk: tuple | None = None
    try:
        for rounds in range(1, max_rounds + 1):
            # Order-insensitive set checksum via XOR-fold of two
            # independent 64-bit hashes, observed by the round's
            # checkpoint job: overflow-free at ANY edge count (an ANSI
            # long SUM of bounded summands would still abort past
            # ~2^32 edges — the 100-TB graphs this operator exists
            # for), and rows within a round are distinct by
            # construction so XOR cancellation needs a genuine 2^-128
            # double-hash collision across rounds. An empty round
            # reads (0, None, None), which repeats and so converges.
            nxt, next_release, seen = local_checkpoint(
                _small_star(_large_star(star)),
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(
                    F.xxhash64(F.least("u", "v"), F.greatest("u", "v"))
                ).alias("x1"),
                F.bit_xor(
                    F.xxhash64(
                        F.greatest("u", "v"), F.least("u", "v"), F.lit(13)
                    )
                ).alias("x2"),
            )
            release()
            release = next_release
            star = nxt
            chk = (seen["n"], seen["x1"], seen["x2"])
            if chk == prev_chk:
                break
            prev_chk = chk
        else:
            raise RuntimeError(
                f"connected_components_loground did not converge in "
                f"{max_rounds} rounds; raise max_rounds"
            )
        # Converged star forest: every non-root appears exactly once as
        # u pointing at its component min; roots appear only as v.
        children = star.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )
        roots = (
            star.select(F.col("v").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
        )
        labels = children.unionAll(roots)
        if nodes is not None:
            isolated = (
                nodes.select(F.col("node").cast("long").alias("node"))
                .join(labels, "node", "left_anti")
                .withColumn("component", F.col("node"))
            )
            labels = labels.unionAll(isolated)
        # The final checkpoint backs the returned labels; hand the
        # caller nothing to release (session-lifetime blocks are the
        # price of a lazily-consumed result, same as
        # connected_components' final iteration).
        release = None
        return labels, rounds
    finally:
        if release is not None:
            release()
