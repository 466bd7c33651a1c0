"""Pipeline-composition queries: grouped pandas UDAF surface, n-gram
language-model statistics, and iterative dedup clustering."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from hadoop_map_reduce_spark.functions.text import sanitize, tokenize
from hadoop_map_reduce_spark.operators.bigram import ngram_counts
from hadoop_map_reduce_spark.operators.clustering import dedup_representatives
from hadoop_map_reduce_spark.operators.dedup import minhash_lsh_pairs
from hadoop_map_reduce_spark.plans.llm_queries import _TOKS
from hadoop_map_reduce_spark.plans.registry import register
from hadoop_map_reduce_spark.session import load_table

_NORM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value_minmax", DoubleType()),
    ]
)


def _normalize_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Arrow-batched per-group min-max normalization (pandas UDAF shape).

    Chosen because a window formulation exists too — giving the Python
    path an exact SQL oracle. Division shape mirrors the oracle SQL.
    """
    lo, hi = pdf["value"].min(), pdf["value"].max()
    span = hi - lo
    out = pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "value_minmax": (pdf["value"] - lo) / span if span != 0 else 0.5,
        }
    )
    return out


@register(
    "grouped_pandas_normalize",
    tags=("llm", "udf"),
    description=(
        "applyInPandas grouped transform (the engine's pandas-UDAF "
        "surface), oracle-checked against the window-function equivalent."
    ),
    oracle="""
        SELECT event_id, user_id,
               CASE WHEN MAX(value) OVER w = MIN(value) OVER w THEN 0.5
                    ELSE (value - MIN(value) OVER w)
                         / (MAX(value) OVER w - MIN(value) OVER w)
               END AS value_minmax
        FROM events
        WINDOW w AS (PARTITION BY user_id)
    """,
)
def grouped_pandas_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    return events.groupBy("user_id").applyInPandas(
        _normalize_group, schema=_NORM_SCHEMA
    )


@register(
    "bigram_cond_prob",
    tags=("reference", "llm", "text"),
    description=(
        "Bigram language-model statistics: P(w2|w1) from joined bigram and "
        "unigram counts — the reference's output composed into analytics."
    ),
    oracle=r"""
        WITH toks AS (
            SELECT list_filter(string_split_regex(lower(regexp_replace(text,
                       '([^\s\w]|_)+', ' ', 'g')), '\s+'), t -> t <> '') AS t
            FROM documents
        ), big AS (
            SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS cnt
            FROM toks, UNNEST(range(1, len(t))) AS u(i)
            WHERE len(t) >= 2 GROUP BY 1, 2
        ), uni AS (
            SELECT w1, CAST(SUM(cnt) AS BIGINT) AS total
            FROM big GROUP BY 1
        )
        SELECT b.w1, b.w2, b.cnt,
               CAST(b.cnt AS DOUBLE) / u.total AS cond_prob
        FROM big b JOIN uni u USING (w1)
    """,
)
def bigram_cond_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    big = (
        ngram_counts(docs, n=2, sep="\x01")
        .select(
            F.split_part("ngram", F.lit("\x01"), F.lit(1)).alias("w1"),
            F.split_part("ngram", F.lit("\x01"), F.lit(2)).alias("w2"),
            F.col("cnt"),
        )
    )
    uni = big.groupBy("w1").agg(F.sum("cnt").alias("total"))
    return big.join(uni, "w1").select(
        "w1",
        "w2",
        "cnt",
        (F.col("cnt").cast("double") / F.col("total")).alias("cond_prob"),
    )


@register(
    "dedup_clusters",
    tags=("llm", "dedup", "iterative"),
    description=(
        "Iterative connected-components over near-dup pairs -> one "
        "representative per duplicate cluster (min id). Oracle via "
        "recursive CTE reachability."
    ),
    oracle=r"""
        WITH RECURSIVE toks AS (
            SELECT doc_id, list_filter(string_split_regex(lower(
                       regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')),
                       '\s+'), t -> t <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  for i in range(1, len(t) - 1)]) AS s
            FROM toks WHERE len(t) >= 3
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE ROUND(len(list_intersect(a.s, b.s))
                  / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ), reach AS (
            SELECT src AS node, src AS r FROM edges
            UNION
            SELECT e.src AS node, reach.r
            FROM edges e JOIN reach ON e.dst = reach.node
        ), comp AS (
            SELECT node, MIN(r) AS component FROM reach GROUP BY node
        )
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS representative
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Pair generation via LSH banding (equi-join, verified exact-Jaccard),
    # NOT the quadratic exact operator: same pair set (recall pinned by
    # tests), ~100x cheaper at sf0.1 (measured 575s -> ~5s). Banding
    # params MUST match the oracle-pinned dedup_minhash_lsh query (b=32,
    # r=2 — near-total recall at J>=0.5).
    pairs = minhash_lsh_pairs(docs, threshold=0.5, n=3, num_hashes=64, bands=32)
    return dedup_representatives(pairs, docs.select("doc_id"))


@register(
    "dedup_cluster_retention",
    tags=("llm", "dedup", "iterative", "curation"),
    description=(
        "Duplicate-cluster retention policy (the step AFTER clustering "
        "that production dedup actually ships): within each connected "
        "near-dup component, KEEP the member with the most chars (ties "
        "to lowest doc_id) and mark the rest for removal — min-id "
        "representatives name the cluster, the keep-longest rule picks "
        "the survivor. Oracle: the dedup_clusters recursive-CTE "
        "reachability plus a per-component argmax window."
    ),
    oracle=r"""
        WITH RECURSIVE toks AS (
            SELECT doc_id, list_filter(string_split_regex(lower(
                       regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')),
                       '\s+'), t -> t <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  for i in range(1, len(t) - 1)]) AS s
            FROM toks WHERE len(t) >= 3
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE ROUND(len(list_intersect(a.s, b.s))
                  / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ), reach AS (
            SELECT src AS node, src AS r FROM edges
            UNION
            SELECT e.src AS node, reach.r
            FROM edges e JOIN reach ON e.dst = reach.node
        ), comp AS (
            SELECT node, MIN(r) AS component FROM reach GROUP BY node
        ), members AS (
            SELECT d.doc_id,
                   COALESCE(c.component, d.doc_id) AS representative,
                   d.n_chars
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        ), ranked AS (
            SELECT doc_id, representative,
                   FIRST_VALUE(doc_id) OVER (
                       PARTITION BY representative
                       ORDER BY n_chars DESC, doc_id ASC) AS kept_id
            FROM members
        )
        SELECT doc_id, representative, kept_id,
               CASE WHEN doc_id = kept_id THEN 'keep' ELSE 'remove' END
                   AS action
        FROM ranked
    """,
)
def dedup_cluster_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same LSH-banded pair generation + min-label components as
    dedup_clusters (one persisted edge set, O(diameter) two-shuffle
    iterations), then ONE window shuffle keyed by the component id for
    the keep-longest argmax — cluster-sized partitions, never
    corpus-sized."""
    from hadoop_map_reduce_spark.operators.clustering import (
        cluster_retention,
        dedup_representatives,
    )
    from hadoop_map_reduce_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, threshold=0.5, n=3, num_hashes=64, bands=32
    )
    reps = dedup_representatives(pairs, docs.select("doc_id"))
    return cluster_retention(
        reps,
        docs.select("doc_id", F.col("n_chars").alias("quality")),
        quality_col="quality",
    )


@register(
    "pack_write_shards",
    headline=True,
    tags=("llm", "pipeline", "sink"),
    description=(
        "Training-shard serialization census: documents written as "
        "token-budgeted .txt.gz shards (sinks/shards.py — one "
        "doc_id<TAB>text<LF> line per doc, gzip mtime=0) with a "
        "parquet manifest and a _SUCCESS marker; the returned census "
        "is the COMMITTED manifest read back, and the oracle replays "
        "shard assignment, byte counts, and the uncompressed-content "
        "md5 per shard directly from the documents table — so the "
        "sink's files, framing, and checksums are all driver-checked."
    ),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source, text,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ), cum AS (
            SELECT *, SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_tokens
            FROM toks
        ), assigned AS (
            SELECT *, CAST(FLOOR((cum_tokens - n_tokens) / 4096e0)
                           AS BIGINT) AS shard_id
            FROM cum
        )
        SELECT source, shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(strlen(CAST(doc_id AS VARCHAR) || chr(9)
                               || text || chr(10))) AS BIGINT) AS n_bytes,
               md5(string_agg(CAST(doc_id AS VARCHAR) || chr(9)
                              || text || chr(10), '' ORDER BY doc_id))
                   AS content_md5
        FROM assigned
        GROUP BY source, shard_id
    """,
)
def pack_write_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus->trainer plumbing end-to-end: one source-keyed window
    assigns shards (pack_token_chunks formula), one applyInPandas task
    per shard writes its file executor-side, the manifest is a normal
    distributed parquet write — the driver never holds corpus text. At
    100 TB this is shard-count-parallel with shard sizes bounded by the
    token budget."""
    from hadoop_map_reduce_spark.sinks.shards import write_training_shards

    out_dir = os.path.join(
        tempfile.gettempdir(),
        "hmrs_shards_{}_{}".format(
            os.getpid(), hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        ),
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "source",
        F.size(tokenize(sanitize(F.col("text"))))
        .cast("long")
        .alias("n_tokens"),
    )
    manifest = write_training_shards(
        docs, out_dir, max_tokens_per_shard=4096
    )
    return manifest.select(
        "source", "shard_id", "n_docs", "n_tokens", "n_bytes", "content_md5"
    )


# ---------------------------------------------------------------------------
# dedup_clusters_loground (round-9): the log-round CC engine on the REAL
# near-dup pair graph — result-parity twin of dedup_clusters
# ---------------------------------------------------------------------------

from hadoop_map_reduce_spark.plans.registry import REGISTRY as _REG


@register(
    "dedup_clusters_loground",
    tags=("llm", "dedup", "iterative", "graph"),
    description=(
        "dedup_clusters' exact pipeline with the min-label propagation "
        "loop replaced by alternating large-star/small-star connected "
        "components (Kiveris et al. SoCC'14) — the O(log n)-round "
        "engine for 100-TB duplicate graphs whose chain diameter "
        "exceeds any fixed round budget; identical (doc_id, "
        "representative) output, same recursive-CTE oracle."
    ),
    # Result parity BY CONSTRUCTION: the same reachability oracle as
    # dedup_clusters — two independent Spark algorithms and one SQL
    # ground truth triangulate each other.
    oracle=_REG["dedup_clusters"].oracle,
)
def dedup_clusters_loground(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same LSH pair generation (banded equi-join, b=32 r=2), then
    :func:`~hadoop_map_reduce_spark.operators.clustering.
    connected_components_loground`: two grouped mins + two equi-joins
    per round on 8-byte ids, eager localCheckpoint per round, checksum
    convergence observed by that checkpoint — rounds grow with log(component size), not
    cluster-chain diameter. Docs without edges keep themselves as
    representative via the left join (no nodes frame needed — the
    labels cover exactly the edge-touched ids)."""
    from hadoop_map_reduce_spark.operators.clustering import (
        connected_components_loground,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, threshold=0.5, n=3, num_hashes=64, bands=32
    )
    labels, _rounds = connected_components_loground(pairs)
    return (
        docs.select("doc_id")
        .join(labels, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias(
                "representative"
            ),
        )
    )


# ---------------------------------------------------------------------------
# pack_curriculum_order (round-9): curriculum staging by exact global
# quality rank — the distributed-ranking operator on a corpus-curation
# job (easy->hard schedule for training-data ordering)
# ---------------------------------------------------------------------------


@register(
    "pack_curriculum_order",
    tags=("llm", "curation", "window"),
    description=(
        "Curriculum staging: rank every document by lexical-diversity "
        "ppm (distinct tokens per million tokens, integer-exact), "
        "split the exact global order into 4 stages with the "
        "distributed NTILE (range-partition + observed prefix "
        "offsets — zero single-partition sorts), census per stage. "
        "The easy->hard schedule a curriculum-ordered training run "
        "consumes."
    ),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
        ), q AS (
            SELECT doc_id,
                   CAST(1000000 * len(list_distinct(t)) // len(t)
                        AS BIGINT) AS quality_ppm,
                   CAST(len(t) AS BIGINT) AS n_tokens
            FROM toks WHERE len(t) >= 1
        ), staged AS (
            SELECT *, CAST(NTILE(4) OVER (
                       ORDER BY quality_ppm, doc_id) AS BIGINT) AS stage
            FROM q
        )
        SELECT stage,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(MIN(quality_ppm) AS BIGINT) AS min_quality_ppm,
               CAST(MAX(quality_ppm) AS BIGINT) AS max_quality_ppm
        FROM staged
        GROUP BY stage
    """,
)
def pack_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality is integer ppm via long `div` (exact at any scale); the
    stage assignment is
    :func:`~hadoop_map_reduce_spark.operators.ranking.with_global_ntile`
    over the (quality_ppm, doc_id) total order — the same machinery as
    events_rfm_segments, exercised here on the corpus table. One token
    scan, one range exchange whose checkpoint observes the
    per-partition counts, one partial-agg'd census."""
    from hadoop_map_reduce_spark.operators.ranking import (
        with_global_ntile,
    )

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokenize(sanitize(F.col("text"))).alias("_t")
    )
    q = (
        toks.filter(F.size("_t") >= 1)
        .select(
            "doc_id",
            # Widen BEFORE the multiply: 1000000 * size(...) in 32-bit
            # INT overflows (ANSI abort) at >= 2148 distinct tokens.
            F.expr(
                "CAST(size(array_distinct(_t)) AS BIGINT) * 1000000 "
                "div size(_t)"
            ).alias("quality_ppm"),
            F.size("_t").cast("long").alias("n_tokens"),
        )
    )
    staged = with_global_ntile(
        q, [F.col("quality_ppm"), F.col("doc_id")], 4, "stage"
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.min("quality_ppm").alias("min_quality_ppm"),
        F.max("quality_ppm").alias("max_quality_ppm"),
    )
