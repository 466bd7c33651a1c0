"""Time-series analytics and deterministic sampling queries.

Hypertable-style operations over the ``events`` stream table — gap-filled
rollups, ordered funnels, cohort retention — plus deterministic sampling
over ``documents`` (hash-bucket and stratified quota). Everything here is
expressible as one or two shuffles and stays oracle-checkable: sampling
uses md5-derived buckets (identical in Spark and DuckDB) instead of RNG,
so the "sample" is a pure filter both engines agree on.

Scale notes are per-query; the common theme is that the events table is
the 100-TB side and every plan touches it exactly once (single scan,
single shuffle on the group key), with any generated/driver-side rows
(hour spines, stage labels) kept to broadcast size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_map_reduce_spark.plans.registry import register
from hadoop_map_reduce_spark.session import load_table

_GAPFILL_ORACLE = """
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS t0,
               date_trunc('hour', MAX(ts)) AS t1
        FROM events
    ), hours AS (
        SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ), hourly AS (
        SELECT date_trunc('hour', ts) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS v_e4
        FROM events GROUP BY 1
    )
    SELECT h.hour,
           COALESCE(y.n_events, 0) AS n_events,
           COALESCE(y.v_e4, 0) / 10000.0 AS total_value
    FROM hours h LEFT JOIN hourly y ON y.hour = h.hour
"""


@register(
    "events_gapfill",
    tags=("timeseries", "aggregation", "join"),
    description=(
        "Gap-filled hourly rollup (timescale-style time_bucket_gapfill): "
        "aggregate events per hour, then left-join onto a generated "
        "contiguous hour spine so silent hours appear as zero rows."
    ),
    oracle=_GAPFILL_ORACLE,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan + one shuffle on the hour key; the spine is generated
    from a single-row min/max aggregate via ``sequence``/``explode`` and
    is broadcast-sized by construction (hours between min and max, not
    rows), so the gap-fill join never shuffles the fact side again. At
    100 TB the hourly aggregate is already partial-agg'd map-side."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("_v_e4"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    return spine.join(hourly, "hour", "left").select(
        "hour",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        (F.coalesce(F.col("_v_e4"), F.lit(0)) / F.lit(10000.0)).alias(
            "total_value"
        ),
    )


_FUNNEL_ORACLE = """
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'stage1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 'stage2_click', CAST(COUNT(*) AS BIGINT) FROM c
    UNION ALL
    SELECT 'stage3_purchase', CAST(COUNT(*) AS BIGINT) FROM p
"""


@register(
    "events_funnel",
    tags=("timeseries", "join", "aggregation"),
    description=(
        "Ordered three-stage funnel (view -> click -> purchase): users "
        "counted at each stage only when the later event strictly follows "
        "their first event of the previous stage."
    ),
    oracle=_FUNNEL_ORACLE,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each stage is a per-user MIN aggregate joined to the next stage's
    filtered scan on user_id — all three joins are equi-joins on the same
    key, so a 100-TB run shuffles events once per stage on user_id (AQE
    can reuse the exchange) and the per-stage survivor sets shrink
    monotonically. The strictly-after condition rides on the join as a
    residual filter, not a theta-join."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def _count(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(label).alias("stage"), "n_users"
        )

    return (
        _count(v, "stage1_view")
        .unionByName(_count(c, "stage2_click"))
        .unionByName(_count(p, "stage3_purchase"))
    )


_RETENTION_ORACLE = """
    WITH first_day AS (
        SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day,
                          CAST(date_trunc('day', e.ts) AS DATE)) AS BIGINT)
               AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN first_day f ON f.user_id = e.user_id
    GROUP BY 1, 2
"""


@register(
    "events_retention",
    tags=("timeseries", "join", "aggregation"),
    description=(
        "Cohort retention: users grouped by first-seen day, distinct "
        "active users counted per (cohort_day, day_offset) cell."
    ),
    oracle=_RETENTION_ORACLE,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both the cohort assignment and the activity join shuffle on
    user_id, so Catalyst plans one exchange reused across the aggregate
    and the join; the final (cohort, offset) aggregate is a distinct-count
    whose map-side partial dedups (user, cohort, offset) before the
    second, much smaller shuffle."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("cohort_day")
    )
    return (
        ev.join(first_day, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")).cast("date"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_HASH_SAMPLE_ORACLE = """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE substr(md5(text), 1, 1) IN ('0', '1')
    GROUP BY lang
"""


@register(
    "sample_hash_bucket",
    tags=("llm", "sampling"),
    description=(
        "Deterministic ~12.5% corpus sample: keep documents whose md5 "
        "first hex digit is 0 or 1 (2 of 16 buckets), then profile the "
        "sample per language. Hash-bucket sampling is reproducible across "
        "engines and runs, unlike RNG-based TABLESAMPLE."
    ),
    oracle=_HASH_SAMPLE_ORACLE,
)
def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sample predicate is a pure per-row filter — at 100 TB it runs
    in the scan stage, no shuffle until the tiny per-lang aggregate. The
    same md5-prefix trick is how you carve reproducible held-out splits
    from a training corpus without materializing an assignment table."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(
            F.substring(F.md5(F.col("text").cast("binary")), 1, 1).isin("0", "1")
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_QUOTA_SAMPLE_ORACLE = """
    WITH ranked AS (
        SELECT lang, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(text) ASC, doc_id ASC) AS rk
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM ranked WHERE rk <= 40
    GROUP BY lang
"""


@register(
    "sample_stratified_quota",
    tags=("llm", "sampling", "window"),
    description=(
        "Stratified quota sample: up to 40 documents per language, chosen "
        "deterministically by md5 order (a seedless shuffle), profiled "
        "per stratum. The per-language cap is how corpus mixes bound "
        "over-represented languages."
    ),
    oracle=_QUOTA_SAMPLE_ORACLE,
)
def sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW_NUMBER over (lang) is one hash-partition + per-partition sort;
    with few strata and many rows per stratum, skew lands on the biggest
    language — at 100 TB swap in the rank-free variant (per-lang md5
    threshold chosen from a sampled quantile) to keep the cap a pure
    filter. The quota semantics and output contract stay identical."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("text").cast("binary")).asc(), F.col("doc_id").asc())
    )
    return (
        docs.select("lang", "n_chars", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 40)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_MULTI_GRAIN_SQL = """
    WITH e AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               date_trunc('hour', ts) AS hour,
               CAST(ROUND(value * 10000) AS BIGINT) AS v_e4
        FROM events
    )
    SELECT event_type, day, hour,
           CAST(GROUPING(day) AS INT) AS g_day,
           CAST(GROUPING(hour) AS INT) AS g_hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(v_e4) / 1e4 AS total_value
    FROM e
    GROUP BY GROUPING SETS ((event_type),
                            (event_type, day),
                            (event_type, day, hour))
"""


@register(
    "events_multi_grain",
    tags=("timeseries", "aggregation"),
    description=(
        "Hypertable-style multi-granularity rollup: per event type, "
        "totals at day grain, hour grain, and overall, in ONE pass via "
        "GROUPING SETS (grain identified by GROUPING flags). One shared "
        "SQL string runs on both engines."
    ),
    oracle=_MULTI_GRAIN_SQL,
)
def events_multi_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst plans grouping sets as one Expand (3 replicas of each
    row's grouping columns, not of the table) + one partial-agg'd
    shuffle — at 100 TB this beats three separate rollup queries by
    reading and shuffling once."""
    from hadoop_map_reduce_spark.session import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(_MULTI_GRAIN_SQL)


@register(
    "events_anomaly_zscore",
    tags=("timeseries", "window"),
    description=(
        "Windowed anomaly score: per event type, z-score of each value "
        "against the trailing 100 events (exact-integer-cents window "
        "sums, so the mean/variance inputs are order-free and the float "
        "pipeline is bit-identical across engines; emitted where the "
        "trailing window has >= 20 points and positive variance)."
    ),
    oracle="""
        WITH w AS (
            SELECT event_id, event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS vc,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER tw AS s,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)
                       * CAST(ROUND(value * 100) AS BIGINT)) OVER tw AS sq,
                   COUNT(*) OVER tw AS n
            FROM events
            WINDOW tw AS (PARTITION BY event_type
                          ORDER BY ts ASC, event_id ASC
                          ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, event_type,
               ROUND((vc - CAST(s AS DOUBLE) / n)
                     / SQRT((sq - CAST(s AS DOUBLE) * s / n) / (n - 1)),
                     6) AS zscore
        FROM w
        WHERE n >= 20 AND (sq - CAST(s AS DOUBLE) * s / n) / (n - 1) > 0
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One window shuffle keyed by event_type (AQE splits a hot type).
    The trailing sums are over exact integer cents — summation order
    cannot perturb them — so mean/variance/z are fixed IEEE expression
    DAGs over identical inputs on any engine, and round-6 output
    hash-matches. This is the streaming-friendly anomaly shape: the
    same trailing stats maintain incrementally under
    applyInPandasWithState."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("bigint")
    tw = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-100, -1)
    )
    w = events.select(
        "event_id",
        "event_type",
        vc.alias("vc"),
        F.sum(vc).over(tw).alias("s"),
        F.sum(vc * vc).over(tw).alias("sq"),
        F.count(F.lit(1)).over(tw).alias("n"),
    )
    var = (
        F.col("sq") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    z = (F.col("vc") - F.col("s").cast("double") / F.col("n")) / F.sqrt(var)
    return (
        w.filter((F.col("n") >= 20) & (var > 0))
        .select("event_id", "event_type", F.round(z, 6).alias("zscore"))
    )


@register(
    "events_ohlc",
    tags=("timeseries", "aggregation"),
    description=(
        "Hourly OHLC candles over the event stream: open/close via "
        "min_by/max_by (argmin/argmax aggregates) keyed on the unique "
        "event_id arrival order, high/low/volume as plain extremes — "
        "the financial-rollup shape, one scan + one agg shuffle."
    ),
    oracle="""
        SELECT CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch,
               arg_min(value, event_id) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               arg_max(value, event_id) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1
    """,
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by fold inside the same partial/final HashAggregate as
    the plain extremes — argmin carries one (value, key) pair per group
    through the map-side combine, so OHLC costs the same one shuffle as
    a count. Keyed on event_id (unique, arrival-ordered) so open/close
    are deterministic; the hour is emitted as epoch seconds to keep the
    compare timezone-representation-free."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    hour = F.date_trunc("hour", F.col("ts"))
    return (
        events.groupBy(hour.cast("long").alias("hour_epoch"))
        .agg(
            F.min_by("value", "event_id").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "event_id").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_LOCF_ORACLE = """
    WITH p AS (
        SELECT ts, value FROM events WHERE event_type = 'purchase'
    ), b AS (
        SELECT date_trunc('hour', MIN(ts)) AS t0,
               date_trunc('hour', MAX(ts)) AS t1
        FROM p
    ), hours AS (
        SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour
        FROM b
    ), hourly AS (
        SELECT date_trunc('hour', ts) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS v_e4
        FROM p GROUP BY 1
    ), j AS (
        SELECT h.hour,
               COALESCE(y.n, 0) AS n_events,
               y.v_e4 / y.n / 10000.0 AS mean_v,
               CASE WHEN y.n IS NOT NULL
                    THEN CAST(epoch(h.hour) AS BIGINT) END AS known_h
        FROM hours h LEFT JOIN hourly y ON y.hour = h.hour
    ), w AS (
        SELECT hour, n_events, mean_v,
               LAST_VALUE(mean_v IGNORE NULLS) OVER
                   (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS prev_v,
               LAST_VALUE(known_h IGNORE NULLS) OVER
                   (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS prev_h,
               FIRST_VALUE(mean_v IGNORE NULLS) OVER
                   (ORDER BY hour ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS next_v,
               FIRST_VALUE(known_h IGNORE NULLS) OVER
                   (ORDER BY hour ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS next_h
        FROM j
    )
    SELECT hour, n_events,
           prev_v AS locf_value,
           CASE WHEN mean_v IS NOT NULL THEN mean_v
                WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
                ELSE prev_v + (next_v - prev_v)
                     * (CAST(epoch(hour) AS BIGINT) - prev_h)
                     / (next_h - prev_h) END AS interp_value
    FROM w
"""


@register(
    "events_locf",
    tags=("timeseries", "window"),
    description=(
        "Gap-filled hourly series with LOCF (last observation carried "
        "forward) and linear interpolation across silent hours — the "
        "timescale locf()/interpolate() pair over the sparse purchase "
        "stream."
    ),
    oracle=_LOCF_ORACLE,
)
def events_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events scan aggregates down to one row per hour BEFORE any
    window runs (partial-agg'd single shuffle); the carry/interpolate
    windows then operate on the spine only — bounded by hours in range,
    not event rows, so the unpartitioned window is broadcast-sized by
    construction at any corpus scale. prev/next carries use separate
    last/first(ignorenulls) columns over the same sort: the carried
    (hour, value) fields go null together row-wise, so no struct
    atomicity is needed (cf. asof_join_backward)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("v_e4"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    mean_v = F.col("v_e4") / F.col("n") / F.lit(10000.0)
    j = spine.join(hourly, "hour", "left").select(
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        mean_v.alias("mean_v"),
        F.when(
            F.col("n").isNotNull(), F.unix_timestamp(F.col("hour"))
        ).alias("known_h"),
    )
    w_back = Window.orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_fwd = Window.orderBy("hour").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    carried = j.select(
        "hour",
        "n_events",
        "mean_v",
        F.last("mean_v", ignorenulls=True).over(w_back).alias("prev_v"),
        F.last("known_h", ignorenulls=True).over(w_back).alias("prev_h"),
        F.first("mean_v", ignorenulls=True).over(w_fwd).alias("next_v"),
        F.first("known_h", ignorenulls=True).over(w_fwd).alias("next_h"),
    )
    interp = (
        F.when(F.col("mean_v").isNotNull(), F.col("mean_v"))
        .when(F.col("prev_v").isNull() | F.col("next_v").isNull(), F.lit(None))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (F.unix_timestamp(F.col("hour")) - F.col("prev_h"))
            / (F.col("next_h") - F.col("prev_h"))
        )
    )
    return carried.select(
        "hour",
        "n_events",
        F.col("prev_v").alias("locf_value"),
        interp.alias("interp_value"),
    )


@register(
    "events_locf_segmented",
    tags=("timeseries", "window"),
    description=(
        "Segmented (partition-parallel) twin of events_locf: the "
        "carry/interpolate windows run per weekly spine SEGMENT, and "
        "cross-segment carries are stitched through a segment-summary "
        "table (the classic distributed prefix-scan decomposition) — "
        "identical output, but the only unpartitioned window touches "
        "one row per segment instead of one row per hour."
    ),
    oracle=_LOCF_ORACLE,
)
def events_locf_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_locf's hour spine is broadcast-sized for any sane time
    range, so its unpartitioned window is fine; at minute/second grain
    over decades it would not be. This twin shows the scale form:
    per-segment windows (partitionBy seg — fully parallel), then a
    summary row per segment (last/first known observation) through ONE
    tiny unpartitioned window (rows = segments = spine/168), then the
    per-hour carry is COALESCE(in-segment carry, segment carry-in).
    Values are moved, never recomputed, so doubles are bit-identical
    to events_locf and the shared oracle. Aggregates use
    max_by/min_by keyed on known_h (null keys are skipped, so silent
    hours never win the summary)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("v_e4"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    mean_v = F.col("v_e4") / F.col("n") / F.lit(10000.0)
    j = spine.join(hourly, "hour", "left").select(
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        mean_v.alias("mean_v"),
        F.when(
            F.col("n").isNotNull(), F.unix_timestamp(F.col("hour"))
        ).alias("known_h"),
        F.floor(F.unix_timestamp(F.col("hour")) / (168 * 3600)).alias(
            "seg"
        ),
    )
    w_back = Window.partitionBy("seg").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_fwd = Window.partitionBy("seg").orderBy("hour").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    local = j.select(
        "hour",
        "n_events",
        "mean_v",
        "known_h",
        "seg",
        F.last("mean_v", ignorenulls=True).over(w_back).alias("in_prev_v"),
        F.last("known_h", ignorenulls=True).over(w_back).alias("in_prev_h"),
        F.first("mean_v", ignorenulls=True).over(w_fwd).alias("in_next_v"),
        F.first("known_h", ignorenulls=True).over(w_fwd).alias("in_next_h"),
    )
    seg_sum = j.filter(F.col("known_h").isNotNull()).groupBy("seg").agg(
        F.max_by("mean_v", "known_h").alias("last_v"),
        F.max("known_h").alias("last_h"),
        F.min_by("mean_v", "known_h").alias("first_v"),
        F.min("known_h").alias("first_h"),
    )
    # The ONLY unpartitioned windows: one pass over the spine's
    # DISTINCT segments left-joined to the summaries (one row per week
    # of spine — thousands of rows per century; empty segments carry
    # nulls and are skipped by ignorenulls). Carry INTO a segment
    # strictly excludes the segment's own observations (frame ends at
    # -1 / starts at +1). last_v/last_h (and first_v/first_h) come
    # from the same aggregation over known rows, so they are null
    # together — no struct atomicity needed (events_locf's argument).
    spine_segs = j.select("seg").distinct()
    seg_join = spine_segs.join(seg_sum, "seg", "left")
    sw_back = Window.orderBy("seg").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sw_fwd = Window.orderBy("seg").rowsBetween(1, Window.unboundedFollowing)
    seg_carries = seg_join.select(
        "seg",
        F.last("last_v", ignorenulls=True).over(sw_back).alias("carry_v"),
        F.last("last_h", ignorenulls=True).over(sw_back).alias("carry_h"),
        F.first("first_v", ignorenulls=True).over(sw_fwd).alias("nxt_v"),
        F.first("first_h", ignorenulls=True).over(sw_fwd).alias("nxt_h"),
    )
    stitched = local.join(seg_carries, "seg", "left").select(
        "hour",
        "n_events",
        "mean_v",
        F.coalesce(F.col("in_prev_v"), F.col("carry_v")).alias("prev_v"),
        F.coalesce(F.col("in_prev_h"), F.col("carry_h")).alias("prev_h"),
        F.coalesce(F.col("in_next_v"), F.col("nxt_v")).alias("next_v"),
        F.coalesce(F.col("in_next_h"), F.col("nxt_h")).alias("next_h"),
    )
    interp = (
        F.when(F.col("mean_v").isNotNull(), F.col("mean_v"))
        .when(F.col("prev_v").isNull() | F.col("next_v").isNull(), F.lit(None))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (F.unix_timestamp(F.col("hour")) - F.col("prev_h"))
            / (F.col("next_h") - F.col("prev_h"))
        )
    )
    return stitched.select(
        "hour",
        "n_events",
        F.col("prev_v").alias("locf_value"),
        interp.alias("interp_value"),
    )


@register(
    "similarity_user_profiles",
    tags=("timeseries", "llm", "similarity"),
    description=(
        "Behavioral similarity: 24-dim hour-of-day activity profile per "
        "user, then exact cosine pairs >= 0.85 via the block-grid "
        "equi-join — feature derivation composed with the blocked "
        "near-dup operator."
    ),
    oracle="""
        WITH p AS (
            SELECT user_id, hour(ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ), n AS (
            SELECT user_id, SUM(c * c) AS n2 FROM p GROUP BY 1
        ), dots AS (
            SELECT a.user_id AS id_a, b.user_id AS id_b,
                   CAST(SUM(a.c * b.c) AS BIGINT) AS dot
            FROM p a JOIN p b ON a.h = b.h AND a.user_id < b.user_id
            GROUP BY 1, 2
        )
        SELECT d.id_a, d.id_b,
               ROUND(CAST(d.dot AS DOUBLE)
                     / (SQRT(CAST(x.n2 AS DOUBLE))
                        * SQRT(CAST(y.n2 AS DOUBLE))), 6) AS sim
        FROM dots d
        JOIN n x ON x.user_id = d.id_a
        JOIN n y ON y.user_id = d.id_b
        WHERE ROUND(CAST(d.dot AS DOUBLE)
                    / (SQRT(CAST(x.n2 AS DOUBLE))
                       * SQRT(CAST(y.n2 AS DOUBLE))), 6) >= 0.85
    """,
)
def similarity_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile assembly is one partial-agg'd shuffle on (user, hour) +
    one on user; the pair stage reuses cosine_neardup_blocked's
    block-grid (hash-block equi-join, no nested loop, AQE-splittable) —
    NOT a join on the 24 hour keys, which would funnel the whole corpus
    through 24 hot partitions at scale. Counts are integers, so the
    double dot/norm folds are exact on both engines regardless of
    accumulation order — the oracle's sparse integer formulation meets
    the engine's dense fold bit-for-bit."""
    from hadoop_map_reduce_spark.operators.similarity import (
        cosine_neardup_blocked,
    )

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "user_id", F.hour("ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    profiles = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("h", "c"))
        ).alias("_m")
    ).select(
        "user_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda i: F.coalesce(
                F.element_at("_m", i), F.lit(0)
            ).cast("double"),
        ).alias("profile"),
    )
    return cosine_neardup_blocked(
        profiles, threshold=0.85, id_col="user_id", vec_col="profile"
    )


@register(
    "timeseries_dtw",
    tags=("timeseries", "similarity"),
    description=(
        "Banded dynamic-time-warping distance between every pair of "
        "event-type daily-total series (Sakoe-Chiba band 7) — the "
        "phase-tolerant series similarity measure, run as one exact "
        "integer DP per pair in Arrow batches (rows-only: a dynamic "
        "program has no SQL oracle; pinned by the pure-Python DTW "
        "recomputation test)."
    ),
)
def timeseries_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-sized stage is the per-(type, day) aggregation; the
    DP then runs over 30-element arrays per pair — bounded by the time
    range, independent of event count (see operators/dtw.py)."""
    from hadoop_map_reduce_spark.operators.dtw import dtw_distance_pairs

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("series_id"),
        F.date_trunc("day", F.col("ts")).alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 10000).cast("long")).alias("v"))
    return dtw_distance_pairs(daily, band=7)


# Shared with stream_ewma (streaming_queries.py): batch and stream are
# pinned by the SAME recursive-CTE oracle so they can never diverge
# silently.
_EWMA_ORACLE = """
        WITH RECURSIVE seq AS (
            SELECT user_id, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS value_c,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS BIGINT) AS rn
            FROM events
        ), ew AS (
            SELECT user_id, event_id, rn, CAST(value_c AS DOUBLE) AS y
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.user_id, s.event_id, s.rn,
                   0.5 * e.y + 0.5 * s.value_c
            FROM ew e JOIN seq s
              ON s.user_id = e.user_id AND s.rn = e.rn + 1
        )
        SELECT user_id, event_id, rn, y AS ewma_c
        FROM ew
    """


@register(
    "timeseries_ewma",
    tags=("timeseries", "window", "pandas"),
    description=(
        "Exponential moving average per user (alpha=1/2, y1=x1): a true "
        "ordered RECURRENCE (prefix-dependent, non-associative — no "
        "window function expresses it), run as an Arrow-batched "
        "applyInPandas recurrence and oracled by a recursive CTE. The "
        "update is written 0.5*y + 0.5*x on BOTH engines: each halving "
        "is an exact power-of-two scale, so the single rounding per "
        "step is the same IEEE operation on both sides, so the emitted "
        "doubles are BIT-IDENTICAL (no rounding: EWMA values are dyadic "
        "rationals that land exactly on decimal half-boundaries, where "
        "round-half-even and round-half-away disagree)."
    ),
    oracle=_EWMA_ORACLE,
)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shape: one hash exchange on user_id (the applyInPandas
    group), per-group NumPy float64 loop over the user's ordered events
    (O(n) per key, Arrow-batched) — at 100 TB each key's series must fit
    one task, the same contract every per-key recurrence (and the
    reference's Reducer, WordCountV2.java:102-111) already has."""
    import pandas as pd

    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        xs = pdf["value_c"].to_numpy(dtype="float64")
        ys = xs.copy()
        for i in range(1, len(ys)):
            ys[i] = 0.5 * ys[i - 1] + 0.5 * xs[i]
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "rn": range(1, len(ys) + 1),
                "ewma_c": ys,
            }
        )

    return events.groupBy("user_id").applyInPandas(
        ewma, "user_id long, event_id long, rn long, ewma_c double"
    )


@register(
    "events_funnel_windowed",
    tags=("timeseries", "join", "aggregation"),
    description=(
        "Conversion-window funnel: each stage must land within 24 hours "
        "of the user's previous-stage first event (view -> click <= 24h "
        "-> purchase <= 24h) — the product-analytics semantics where a "
        "conversion eventually is not a conversion. Same equi-join "
        "ladder as events_funnel; the window bound rides the join as a "
        "residual range filter, never a theta-join."
    ),
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v ON v.user_id = e.user_id
             AND e.ts > v.t_view
             AND e.ts <= v.t_view + INTERVAL 24 HOUR
            WHERE e.event_type = 'click' GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN c ON c.user_id = e.user_id
             AND e.ts > c.t_click
             AND e.ts <= c.t_click + INTERVAL 24 HOUR
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT 'stage1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM v
        UNION ALL
        SELECT 'stage2_click_24h', CAST(COUNT(*) AS BIGINT) FROM c
        UNION ALL
        SELECT 'stage3_purchase_24h', CAST(COUNT(*) AS BIGINT) FROM p
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    day = F.expr("INTERVAL 24 HOURS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + day)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + day)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )

    return (
        stage(v, "stage1_view")
        .unionByName(stage(c, "stage2_click_24h"))
        .unionByName(stage(p, "stage3_purchase_24h"))
    )


@register(
    "timeseries_cusum",
    tags=("timeseries", "window", "pandas"),
    description=(
        "CUSUM change detector per user: s_i = max(0, s_{i-1} + "
        "(value_c - 3500)) over (ts, event_id) order — a clamped "
        "running sum, non-associative like EWMA but all-INTEGER, so "
        "cross-engine equality is exact by construction; alarm rows "
        "flag s_i > 50000 (the drift-alarm primitive). applyInPandas "
        "recurrence vs recursive-CTE oracle."
    ),
    oracle="""
        WITH RECURSIVE seq AS (
            SELECT user_id, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS value_c,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS BIGINT) AS rn
            FROM events
        ), cu AS (
            SELECT user_id, event_id, rn,
                   GREATEST(CAST(0 AS BIGINT), value_c - 3500) AS s
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.user_id, s.event_id, s.rn,
                   GREATEST(CAST(0 AS BIGINT), c.s + s.value_c - 3500)
            FROM cu c JOIN seq s
              ON s.user_id = c.user_id AND s.rn = c.rn + 1
        )
        SELECT user_id, event_id, rn, CAST(s AS BIGINT) AS cusum_c,
               CAST(CASE WHEN s > 50000 THEN 1 ELSE 0 END AS BIGINT)
                   AS alarm
        FROM cu
    """,
)
def timeseries_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same one-exchange applyInPandas shape as timeseries_ewma; the
    integer recurrence needs no float-rounding care at all."""
    import pandas as pd

    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        s = 0
        out = []
        for x in pdf["value_c"]:
            s = max(0, s + int(x) - 3500)
            out.append(s)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "rn": range(1, len(out) + 1),
                "cusum_c": out,
                "alarm": [1 if v > 50000 else 0 for v in out],
            }
        )

    return events.groupBy("user_id").applyInPandas(
        cusum,
        "user_id long, event_id long, rn long, cusum_c long, alarm long",
    )


@register(
    "events_attribution",
    tags=("relational", "window", "timeseries"),
    description=(
        "Marketing attribution over the event stream: each purchase's "
        "revenue (exact cents) attributed to the user's most recent "
        "preceding touch event (last-touch: click/view/signup) and the "
        "user's first touch BEFORE the purchase (first-touch) — "
        "conditional IGNORE-NULLS window navigation, the canonical "
        "sessionless attribution shape."
    ),
    oracle="""
        WITH e AS (
            SELECT event_id, user_id, ts, event_type, value,
                   CASE WHEN event_type IN ('click', 'view', 'signup')
                        THEN event_id END AS touch_id
            FROM events
        ), nav AS (
            SELECT event_id, user_id, event_type, value,
                   LAST_VALUE(touch_id IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS last_touch_id,
                   FIRST_VALUE(touch_id IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS first_touch_id
            FROM e
        )
        SELECT event_id AS purchase_id, user_id,
               CAST(ROUND(value * 100) AS BIGINT) AS revenue_cents,
               last_touch_id, first_touch_id
        FROM nav WHERE event_type = 'purchase'
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash exchange on user_id + one in-partition sort serves BOTH
    navigations: last- and first-touch share the SAME frame (unbounded
    preceding .. 1 preceding), so Catalyst fuses them into one Window
    node — no second shuffle. At 100 TB this is the per-user
    event-history shape: partitions are users, frames never cross
    them, and purchases project out AFTER navigation so touch rows
    never shuffle twice."""
    events = load_table(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin("click", "view", "signup"),
        F.col("event_id"),
    )
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # The frame ends at 1 PRECEDING for BOTH navigations: attribution
    # looks strictly BACKWARD from the conversion — a touch after the
    # purchase can be neither its first nor its last touch (r7 review
    # finding #5; with a full-extent frame a purchase-then-click stream
    # attributed revenue to the later click).
    return (
        events.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            "value",
            touch.alias("_touch_id"),
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.last("_touch_id", ignorenulls=True)
            .over(w_prev)
            .alias("last_touch_id"),
            F.first("_touch_id", ignorenulls=True)
            .over(w_prev)
            .alias("first_touch_id"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias(
                "revenue_cents"
            ),
            "last_touch_id",
            "first_touch_id",
        )
    )


# ---------------------------------------------------------------------------
# Round-8: RFM segmentation and cohort lifetime value
# ---------------------------------------------------------------------------


@register(
    "events_rfm_segments",
    headline=True,
    tags=("timeseries", "window", "aggregation"),
    description=(
        "RFM segmentation: per-user recency (days to a fixed "
        "2002-01-01 anchor), frequency, and integer-cents monetary "
        "value, each cut into quintiles by NTILE over a total order "
        "(metric, user_id tie-break — deterministic cross-engine), "
        "censused per (r, f, m) segment."
    ),
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   DATE_DIFF('day', MAX(ts),
                             TIMESTAMP '2002-01-01 00:00:00')
                       AS recency_days,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   SUM(CAST(ROUND(value * 100) AS BIGINT))
                       AS monetary_cents
            FROM events GROUP BY user_id),
        scored AS (
            SELECT CAST(NTILE(5) OVER (ORDER BY recency_days ASC,
                                       user_id ASC) AS BIGINT) AS r,
                   CAST(NTILE(5) OVER (ORDER BY frequency DESC,
                                       user_id ASC) AS BIGINT) AS f,
                   CAST(NTILE(5) OVER (ORDER BY monetary_cents DESC,
                                       user_id ASC) AS BIGINT) AS m,
                   monetary_cents
            FROM per_user)
        SELECT r, f, m,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
        FROM scored GROUP BY r, f, m
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One user-keyed aggregation, then three EXACT global NTILEs via
    operators/ranking.with_global_ntile — range-repartition + local
    row_number, eagerly checkpointed, with the per-partition row counts
    observed by that checkpoint job; the prefix-sum offsets and the
    bucket sizes come back as driver-side literals. The per-user table
    (billions of rows at 100 TB of events) is never sorted on one task:
    the oracle's ``NTILE() OVER (ORDER BY ...)`` semantics with zero
    single-partition exchanges (plan-sweep enforced), and one Spark job
    chain per NTILE with no count, offsets or total jobs. Each metric
    order carries the user_id tie-break that makes the order total —
    the precondition for the distributed rank's invariance."""
    from hadoop_map_reduce_spark.operators.ranking import (
        with_global_ntile,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    per_user = ev.groupBy("user_id").agg(
        F.datediff(
            F.lit("2002-01-01").cast("timestamp").cast("date"),
            F.max("ts").cast("date"),
        ).alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    uid = F.col("user_id").asc()
    scored = with_global_ntile(
        per_user, [F.col("recency_days").asc(), uid], 5, "r"
    )
    scored = with_global_ntile(
        scored, [F.col("frequency").desc(), uid], 5, "f"
    )
    scored = with_global_ntile(
        scored, [F.col("monetary_cents").desc(), uid], 5, "m"
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("monetary_cents").cast("long").alias("segment_cents"),
    )


@register(
    "events_cohort_ltv",
    tags=("timeseries", "join", "aggregation"),
    description=(
        "Cohort lifetime value: users bucketed by first-seen day, "
        "integer-cents revenue accumulated per (cohort_day, "
        "day_offset) cell — the monetary companion of "
        "events_retention's distinct-user matrix."
    ),
    oracle="""
        WITH first_seen AS (
            SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
            FROM events GROUP BY user_id)
        SELECT f.cohort_day,
               CAST(DATE_DIFF('day', f.cohort_day, CAST(e.ts AS DATE))
                    AS BIGINT) AS day_offset,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
        GROUP BY 1, 2
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort assignment and the activity join share the user_id
    shuffle (one exchange feeds both, as in events_retention); the
    final aggregate is cohort*offset-sized — tiny. Day arithmetic is
    calendar-date subtraction after an explicit DATE cast on both
    sides, so both engines bucket identically at day boundaries."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    joined = ev.join(first_seen, "user_id")
    offset = F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).cast(
        "long"
    )
    return joined.groupBy(
        "cohort_day", offset.alias("day_offset")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


@register(
    "events_pattern_strict_seq",
    tags=("timeseries", "window"),
    description=(
        "MATCH_RECOGNIZE-lite: strictly consecutive view -> click -> "
        "purchase runs inside each user's event sequence (ts order, "
        "event_id tie-break), counted per user and censused — the "
        "adjacency-strict pattern the gapped funnel family "
        "(events_funnel) deliberately does not cover."
    ),
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type, 1) OVER w AS e1,
                   LEAD(event_type, 2) OVER w AS e2
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC)),
        hits AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_runs
            FROM seq
            WHERE event_type = 'view' AND e1 = 'click'
              AND e2 = 'purchase'
            GROUP BY user_id)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(n_runs) AS BIGINT) AS n_matches,
               CAST(MAX(n_runs) AS BIGINT) AS max_runs_per_user
        FROM hits
    """,
)
def events_pattern_strict_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One user-partitioned window (two LEADs share the frame and the
    sort), one small aggregate — the standard distributed shape for
    adjacency patterns: state never leaves the per-user partition, so
    the operator scales with the largest single user's history, not
    the corpus."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    hits = (
        seq.filter(
            (F.col("event_type") == "view")
            & (F.col("e1") == "click")
            & (F.col("e2") == "purchase")
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_runs"))
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_runs").cast("long").alias("n_matches"),
        F.max("n_runs").cast("long").alias("max_runs_per_user"),
    )
