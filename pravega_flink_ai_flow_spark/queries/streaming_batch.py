"""Batch equivalents of the streaming operators (SURVEY.md §2.9: T3/T4/T5
batch-declared ✓ rows, T7 dedup) over the static ``events`` table.

The same windowing semantics run as true Structured Streaming in
``pravega_flink_ai_flow_spark.streaming`` (tested with availableNow
triggers); here they are expressed as deterministic batch SQL so the
DuckDB oracle can check values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import declared, tables, tier
from ..engine.memo import memo
from ..ops.relational import session_windows


@declared(
    "t3_tumbling_window",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*)                     AS n_events,
           CAST(SUM(value) AS DOUBLE)   AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    survey_ids=("T3",),
)
def t3_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate via F.window — identical semantics
    to the streaming groupBy(window(...)) plan."""
    (events,) = tables(spark, sf_dir, "events")
    return (events
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").cast("double").alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "total_value")
            .orderBy("window_start", "event_type"))


@declared(
    "t4_sliding_window",
    oracle="""
    SELECT window_start, COUNT(*) AS n_events, CAST(SUM(value) AS DOUBLE) AS total_value
    FROM (
        SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP)
                 - s.off * INTERVAL 30 MINUTE AS window_start,
               value
        FROM events
        CROSS JOIN (VALUES (0), (1)) AS s(off)
    )
    GROUP BY window_start
    ORDER BY window_start
    """,
    survey_ids=("T4",),
)
def t4_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 hour, 30-minute slide): every event lands in two
    overlapping windows. F.window generates the expansion; the oracle
    reproduces it with an explicit 2-row cross join."""
    (events,) = tables(spark, sf_dir, "events")
    return (events
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").cast("double").alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
            .orderBy("window_start"))


@declared(
    "t5_session_window",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM ordered
    )
    SELECT user_id, session_id,
           COUNT(*)                    AS n_events,
           CAST(SUM(value) AS DOUBLE)  AS total_value,
           MIN(ts)                     AS session_start,
           MAX(ts)                     AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
    survey_ids=("T5",),
)
def t5_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap: lag → boundary → running sum,
    via ops.relational.session_windows (one shuffle on user_id)."""
    (events,) = tables(spark, sf_dir, "events")
    sessions = session_windows(events, key="user_id", ts="ts", gap_seconds=1800)
    return (sessions.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").cast("double").alias("total_value"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


@declared(
    "t7_dedup_by_key",
    oracle="""
    SELECT user_id, event_type,
           MIN_BY(event_id, event_id) AS first_event_id,
           MIN_BY(value, event_id)    AS first_value
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    survey_ids=("T7", "U5"),
)
def t7_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the first occurrence (deterministic via
    min_by on the unique event_id) — the batch shape of streaming
    withWatermark + dropDuplicates."""
    (events,) = tables(spark, sf_dir, "events")
    return (events.groupBy("user_id", "event_type")
            .agg(F.min_by("event_id", "event_id").alias("first_event_id"),
                 F.min_by("value", "event_id").alias("first_value"))
            .orderBy("user_id", "event_type"))


@declared(
    "t11_ohlc_rollup",
    oracle="""
    SELECT user_id,
           CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS bucket,
           arg_min(value, ts)  AS open,
           MAX(value)          AS high,
           MIN(value)          AS low,
           arg_max(value, ts)  AS close,
           COUNT(*)            AS n_events
    FROM events
    GROUP BY user_id, time_bucket(INTERVAL '1 hour', ts)
    ORDER BY user_id, bucket
    """,
    survey_ids=("A6", "T3"),
)
def t11_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-series rollup: first/last-by-event-time + extremes per
    (user, hour) — min_by/max_by make it ONE partial+final hash
    aggregate, no per-group sort. ((user_id, ts) is unique in the events
    data, so arg-by-time is deterministic.)"""
    (events,) = tables(spark, sf_dir, "events")
    return (events
            .groupBy("user_id",
                     F.date_trunc("hour", F.col("ts")).alias("bucket"))
            .agg(F.min_by("value", "ts").alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max_by("value", "ts").alias("close"),
                 F.count("*").alias("n_events"))
            .orderBy("user_id", "bucket"))


@declared(
    "t12_funnel_analysis",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               ts, event_type
        FROM events
    ),
    v AS (
        SELECT user_id, day,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM e GROUP BY user_id, day
        HAVING MIN(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL
    ),
    c AS (
        SELECT e.user_id, e.day, MIN(e.ts) AS t_click
        FROM e JOIN v ON e.user_id = v.user_id AND e.day = v.day
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id, e.day
    ),
    p AS (
        SELECT e.user_id, e.day, MIN(e.ts) AS t_purchase
        FROM e JOIN c ON e.user_id = c.user_id AND e.day = c.day
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id, e.day
    )
    SELECT v.day,
           COUNT(*)              AS n_view,
           COUNT(c.t_click)      AS n_click_after_view,
           COUNT(p.t_purchase)   AS n_purchase_after_click
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id AND v.day = c.day
    LEFT JOIN p ON v.user_id = p.user_id AND v.day = p.day
    GROUP BY v.day
    ORDER BY v.day
    """,
    survey_ids=("A1", "J4", "W3"),
)
def t12_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized funnel (view → click-after-view →
    purchase-after-click) per user-day — the classic event-analytics
    shape. ONE (user, day) aggregate computes the whole chain (r15,
    guide §1.2/§2.4): the staged formulation the oracle states —
    aggregate per stage, join back, filter, re-aggregate — re-scans
    and re-shuffles events once per stage (Catalyst shares no common
    subtrees: the before-plan held SIX events scans), yet every stage
    is a pure function of one user-day's events. So collect the click
    and purchase timestamps per (user, day) alongside min(view ts) and
    resolve t_click = min(click > t_view), t_purchase =
    min(purchase > t_click) in-row (array_min over a filter HOF —
    per-row × per-day-events work, far below the Arrow threshold).
    Null chaining matches the oracle's inner joins: no view → row
    filtered; no qualifying click → t_click null → the purchase filter
    compares against null and t_purchase stays null."""
    (events,) = tables(spark, sf_dir, "events")
    e = events.select("user_id", F.to_date("ts").alias("day"),
                      "ts", "event_type")
    g = (e.groupBy("user_id", "day")
         .agg(F.min(F.when(F.col("event_type") == "view", F.col("ts")))
              .alias("t_view"),
              F.collect_list(
                  F.when(F.col("event_type") == "click", F.col("ts")))
              .alias("__clicks"),
              F.collect_list(
                  F.when(F.col("event_type") == "purchase", F.col("ts")))
              .alias("__purchases"))
         .filter(F.col("t_view").isNotNull()))
    g = g.withColumn(
        "t_click",
        F.array_min(F.filter("__clicks", lambda x: x > F.col("t_view"))))
    g = g.withColumn(
        "t_purchase",
        F.array_min(F.filter("__purchases", lambda x: x > F.col("t_click"))))
    return (g.groupBy("day")
            .agg(F.count("*").alias("n_view"),
                 F.count("t_click").alias("n_click_after_view"),
                 F.count("t_purchase").alias("n_purchase_after_click"))
            .orderBy("day"))


@declared(
    "t13_retention_cohorts",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    cohorts AS (
        SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT c.cohort_day,
           CAST(a.day - c.cohort_day AS INTEGER) AS day_offset,
           COUNT(DISTINCT a.user_id)             AS n_active
    FROM activity a JOIN cohorts c ON a.user_id = c.user_id
    WHERE a.day - c.cohort_day <= 7
    GROUP BY c.cohort_day, a.day - c.cohort_day
    ORDER BY cohort_day, day_offset
    """,
    survey_ids=("A1", "A3", "J1"),
)
def t13_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users grouped by first-active day, distinct
    actives counted per day offset (first week). ONE user_id shuffle
    (r15, guide §2.4): collect_set(day) dedups activity inside the
    aggregate, the cohort anchor is the set's array_min (no second
    aggregate, no join back), and each user contributes at most one
    (cohort_day, day_offset) row by construction — so the final count
    needs no DISTINCT (the old plan paid a distinct shuffle, a cohort
    shuffle, a join re-shuffle AND a count-distinct expand)."""
    (events,) = tables(spark, sf_dir, "events")
    per_user = (events.select("user_id", F.to_date("ts").alias("day"))
                .groupBy("user_id")
                .agg(F.collect_set("day").alias("__days")))
    per_user = per_user.withColumn("cohort_day", F.array_min("__days"))
    return (per_user.select(
                "user_id", "cohort_day",
                F.explode("__days").alias("day"))
            .withColumn("day_offset", F.datediff("day", "cohort_day"))
            .filter(F.col("day_offset") <= 7)
            .groupBy("cohort_day", "day_offset")
            .agg(F.count("*").alias("n_active"))
            .orderBy("cohort_day", "day_offset"))


@declared(
    "t14_resample_ffill",
    oracle="""
    WITH per AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS bucket,
               max(value) AS v
        FROM events GROUP BY 1, 2
    ),
    rng AS (
        SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        FROM per GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM rng
    )
    SELECT g.user_id, g.bucket,
           last_value(p.v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bucket) AS value_filled,
           p.v IS NULL AS was_gap
    FROM grid g LEFT JOIN per p
      ON g.user_id = p.user_id AND g.bucket = p.bucket
    ORDER BY g.user_id, g.bucket
    """,
    survey_ids=("T3", "W4", "A1"),
)
def t14_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill (hypertable/time-bucket rollup):
    per-user daily grid, max-per-bucket, empty buckets forward-filled
    from the previous bucket — per-key sequence/explode grid (no driver
    collect), one groupBy + one window per key. Bucket boundaries use
    integer epoch-micros division on both engines (a double division
    floors into the wrong bucket at exact midnights)."""
    from ..ops.relational import resample_ffill

    (events,) = tables(spark, sf_dir, "events")
    return (resample_ffill(events, key="user_id", ts="ts", value="value",
                           step_seconds=86400)
            .orderBy("user_id", "bucket"))


@declared(
    "t15_resample_interpolate",
    oracle="""
    WITH per AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS bucket,
               max(value) AS v
        FROM events GROUP BY 1, 2
    ),
    rng AS (
        SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        FROM per GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM rng
    ),
    n AS (
        SELECT g.user_id, g.bucket, p.v,
               last_value(p.v IGNORE NULLS) OVER w_fwd AS pv,
               last_value(CASE WHEN p.v IS NOT NULL THEN g.bucket END
                          IGNORE NULLS) OVER w_fwd AS pb,
               first_value(p.v IGNORE NULLS) OVER w_bwd AS nv,
               first_value(CASE WHEN p.v IS NOT NULL THEN g.bucket END
                           IGNORE NULLS) OVER w_bwd AS nb
        FROM grid g LEFT JOIN per p
          ON g.user_id = p.user_id AND g.bucket = p.bucket
        WINDOW
          w_fwd AS (PARTITION BY g.user_id ORDER BY g.bucket
                    ROWS UNBOUNDED PRECEDING),
          w_bwd AS (PARTITION BY g.user_id ORDER BY g.bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket,
           CASE WHEN pb IS NULL THEN nv
                WHEN nb IS NULL THEN pv
                WHEN nb = pb THEN pv
                ELSE pv + (nv - pv) * (CAST(bucket - pb AS DOUBLE)
                                       / CAST(nb - pb AS DOUBLE))
           END AS value_interp,
           v IS NULL AS was_gap
    FROM n
    ORDER BY user_id, bucket
    """,
    survey_ids=("T3", "W4", "W7"),
)
def t15_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across resampled gaps: empty buckets take
    prev + (next − prev) · elapsed-fraction between known neighbors
    (single-neighbor fallback at the edges). Identical IEEE expression
    on both engines — no rounding needed."""
    from ..ops.relational import resample_interpolate

    (events,) = tables(spark, sf_dir, "events")
    return (resample_interpolate(events, key="user_id", ts="ts",
                                 value="value", step_seconds=86400)
            .orderBy("user_id", "bucket"))


@declared(
    "t16_user_similarity_topk",
    oracle="""
    WITH daily AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS bucket,
               SUM(value) AS v
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(bucket) AS b0, MAX(bucket) AS b1 FROM daily),
    grid AS (
        SELECT u.user_id, gs.bucket
        FROM (SELECT DISTINCT user_id FROM daily) u
        CROSS JOIN (SELECT unnest(generate_series(
            (SELECT b0 FROM bounds), (SELECT b1 FROM bounds))) AS bucket) gs
    ),
    dense AS (
        SELECT g.user_id, g.bucket, COALESCE(d.v, 0.0) AS v
        FROM grid g LEFT JOIN daily d
          ON d.user_id = g.user_id AND d.bucket = g.bucket
    ),
    ok AS (SELECT user_id FROM dense GROUP BY 1 HAVING STDDEV_SAMP(v) > 0),
    stats AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               ROUND(corr(a.v, b.v), 6) AS corr_v
        FROM dense a JOIN dense b
          ON a.bucket = b.bucket AND a.user_id < b.user_id
        WHERE a.user_id IN (SELECT user_id FROM ok)
          AND b.user_id IN (SELECT user_id FROM ok)
        GROUP BY 1, 2
    ),
    sym AS (
        SELECT ua AS user_a, ub AS user_b, corr_v FROM stats
        UNION ALL
        SELECT ub AS user_a, ua AS user_b, corr_v FROM stats
    )
    SELECT user_a, user_b, corr_v, rank FROM (
        SELECT user_a, user_b, corr_v,
               ROW_NUMBER() OVER (PARTITION BY user_a
                                  ORDER BY corr_v DESC, user_b) AS rank
        FROM sym
    ) WHERE rank <= 3
    ORDER BY user_a, rank
    """,
    survey_ids=("T3", "A7", "O3", "L3"),
)
def t16_user_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (the distributed streaming-data
    workload of e.g. EDBT'19): top-3 most-correlated users by daily
    activity over the corpus-wide day grid (missing days count as 0).

    Scale plan: Pearson correlation over a common dense grid equals the
    COSINE of the mean-centered daily vectors — the (n−1) and σ factors
    cancel — so the all-pairs scoring runs through the block-pair GEMM
    scorer (ops/similarity.allpairs_topk_blocked): the query set IS the
    corpus here, so nothing is driver-collected (the closure scorers
    raise past 100k queries); each unordered block pair does ONE BLAS
    multiply and emits local top-k per user, a window merges.
    The full pair matrix (quadratic in users) is NEVER materialized.
    The first formulation of this query joined users pairwise through
    a shared-bucket inverted index — dense daily series made every
    user pair meet on every day, i.e. an all-pairs join in disguise:
    12.9 s at sf0.1 and quadratic row flow at scale. The GEMM path
    emits |users|·k candidate rows instead. Zero-variance users (flat
    after zero-fill) are excluded on both sides; ranking — the local
    block-pair selection AND the global merge (round_dp=6) — orders by
    the ROUNDED correlation (6 dp, the multi-pass-accumulation policy),
    so both engines break near-ties identically with no shortlist tie
    window (an unrounded shortlist could exclude a pair that rounds
    into a rank-3 tie)."""
    from ..ops.similarity import allpairs_topk_blocked

    (events,) = tables(spark, sf_dir, "events")
    daily = (events
             .groupBy("user_id",
                      F.expr("unix_micros(ts) div 86400000000")
                      .alias("bucket"))
             .agg(F.sum("value").alias("v")))
    b0, b1 = memo(
        spark, ("t16_day_bounds", sf_dir), tier(sf_dir),
        lambda: tuple(daily.agg(F.min("bucket"), F.max("bucket")).first()))
    b0, n_days = int(b0), int(b1 - b0 + 1)

    # Dense grid + mean-centering as ONE Arrow pass per batch (numpy
    # scatter + row ops) instead of interpreted per-element HOF chains
    # (map_from_entries → element_at per day → two aggregate folds):
    # ~0.9 s → ~0.15 s of the query at sf0.1, same zero-variance
    # exclusion (exact zeros are exact in both formulations).
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    entries = (daily.groupBy("user_id")
               .agg(F.collect_list(F.struct("bucket", "v")).alias("e")))

    def center(batches):
        for rb in batches:
            n = rb.num_rows
            ent = rb.column("e")
            flat = pc.list_flatten(ent)
            buckets = flat.field("bucket").to_numpy(zero_copy_only=False)
            vals = flat.field("v").to_numpy(zero_copy_only=False)
            lengths = pc.list_value_length(ent).to_numpy(
                zero_copy_only=False)
            parents = np.repeat(np.arange(n), lengths)
            M = np.zeros((n, n_days))
            M[parents, (buckets - b0).astype(np.int64)] = vals
            C = M - M.sum(axis=1, keepdims=True) / n_days
            keep = np.einsum("ij,ij->i", C, C) > 0
            ids = rb.column("user_id").to_numpy(
                zero_copy_only=False)[keep]
            Ck = np.ascontiguousarray(C[keep])
            # zero-copy list column: flat value buffer + arithmetic
            # offsets, not a Python list of row arrays (r15, guide §4)
            cvec = pa.ListArray.from_arrays(
                pa.array(np.arange(len(ids) + 1, dtype=np.int32) * n_days),
                pa.array(Ck.ravel(), pa.float64()))
            yield pa.record_batch(
                [pa.array(ids, pa.int64()), cvec],
                names=["user_id", "cvec"])

    centered = entries.mapInArrow(center, "user_id long, cvec array<double>")
    # local selection and merge both order on the score rounded to 6 dp,
    # so the top 3 need no headroom for rounded ties
    top = allpairs_topk_blocked(centered, id_col="user_id",
                                vec_col="cvec", k=3, round_dp=6)
    return (top.selectExpr("user_id_a AS user_a", "user_id_b AS user_b",
                           "cosine AS corr_v", "rank")
            .orderBy("user_a", "rank"))


@declared(
    "t17_per_key_trend",
    oracle="""
    WITH d AS (
        SELECT user_id,
               epoch_us(ts) // 86400000000 AS bucket, value
        FROM events
    ),
    r AS (
        SELECT user_id,
               CAST(bucket - MIN(bucket) OVER (PARTITION BY user_id)
                    AS DOUBLE) AS x,
               value AS y
        FROM d
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)           AS n_obs,
           ROUND(regr_slope(y, x), 6)         AS slope,
           ROUND(regr_intercept(y, x), 6)     AS intercept
    FROM r GROUP BY user_id ORDER BY user_id
    """,
    survey_ids=("A7", "T3", "A1"),
)
def t17_per_key_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear trend (the grouped-regression primitive behind
    drift monitors and per-entity forecasts): OLS slope/intercept of
    event value against days-since-first-activity, via the SQL-standard
    ``regr_slope``/``regr_intercept`` aggregates — one window pass to
    recenter x per key, one grouped aggregate, map-side combinable.
    The x recentering matters twice: numerically (epoch day numbers
    ~2·10⁴ would push intercepts to a magnitude where cross-engine
    accumulation-order noise survives 6-dp rounding) and semantically
    (the intercept becomes the fitted value at each user's FIRST active
    day). Slope/intercept are order-dependent float accumulations →
    rounded to 6 dp on both engines (the stddev/corr policy)."""
    from pyspark.sql import Window

    (events,) = tables(spark, sf_dir, "events")
    b = F.expr("unix_micros(ts) div 86400000000")
    w = Window.partitionBy("user_id")
    rx = (events.select("user_id", b.alias("bucket"), "value")
          .withColumn("x", (F.col("bucket")
                            - F.min("bucket").over(w)).cast("double")))
    return (rx.groupBy("user_id")
            .agg(F.count("*").alias("n_obs"),
                 F.round(F.regr_slope(F.col("value"), F.col("x")), 6)
                  .alias("slope"),
                 F.round(F.regr_intercept(F.col("value"), F.col("x")), 6)
                  .alias("intercept"))
            .orderBy("user_id"))


@declared(
    "t18_gap_detection",
    oracle="""
    WITH o AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
    )
    SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
           CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_micros
    FROM o
    WHERE prev_ts IS NOT NULL
      AND epoch_us(ts) - epoch_us(prev_ts) > CAST(172800 AS BIGINT) * 1000000
    ORDER BY user_id, gap_start
    """,
    survey_ids=("T5", "W5", "P4"),
)
def t18_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data / outage detection over event streams: per-user gaps
    longer than 2 days, via one lag window — the gaps-and-islands
    complement of session windows (same single shuffle on the key;
    monitoring pipelines run exactly this shape per sensor at scale).
    ((user_id, ts) is unique in the events data, so lag is
    deterministic.)"""
    from pyspark.sql import Window

    (events,) = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
    return (events.select("user_id", "ts")
            .withColumn("prev_ts", F.lag("ts").over(w))
            .filter(F.col("prev_ts").isNotNull()
                    & (gap > 2 * 86400 * 1_000_000))
            .select("user_id", F.col("prev_ts").alias("gap_start"),
                    F.col("ts").alias("gap_end"),
                    gap.alias("gap_micros"))
            .orderBy("user_id", "gap_start"))


@declared(
    "t19_anomaly_zscore",
    oracle="""
    WITH scored AS (
        SELECT user_id, ts, value,
               avg(value)         OVER w AS mu,
               stddev_samp(value) OVER w AS sigma,
               count(*)           OVER w AS n_hist
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, ts, value,
           ROUND((value - mu) / sigma, 6) AS zscore
    FROM scored
    WHERE n_hist >= 10 AND sigma > 0
    ORDER BY abs(ROUND((value - mu) / sigma, 6)) DESC, user_id, ts
    LIMIT 50
    """,
    survey_ids=("W6", "W7", "O2"),
)
def t19_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection over the event history: each
    reading is z-scored against the trailing 20 observations of the SAME
    user (frame ends at ``1 PRECEDING`` so the candidate never skews its
    own baseline), then the 50 most extreme deviations surface via a
    global top-k. One shuffle on ``user_id`` for the window pass, then
    ``TakeOrderedAndProject`` for the limit — per-sensor monitoring at
    100 TB runs exactly this plan (the baseline state is O(frame) per
    key, never whole-history). stddev is an order-dependent accumulation
    → rounded to 6 dp on both sides before ranking; (user_id, ts) is
    unique so the tie-break is total."""
    from pyspark.sql import Window

    (events,) = tables(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts")
         .rowsBetween(-20, -1))
    scored = events.select(
        "user_id", "ts", "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_hist"))
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6)
    return (scored
            .filter((F.col("n_hist") >= 10) & (F.col("sigma") > 0))
            .select("user_id", "ts", "value", z.alias("zscore"))
            .orderBy(F.abs(F.col("zscore")).desc(), "user_id", "ts")
            .limit(50))


@declared(
    "t20_ewma_smooth",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        FROM events
    )
    SELECT t.user_id, t.ts, t.value,
           ROUND(SUM(h.value * power(0.75, t.rn - h.rn))
                 / SUM(power(0.75, t.rn - h.rn)), 6) AS ewma20
    FROM seq t JOIN seq h
      ON t.user_id = h.user_id
     AND t.rn - h.rn BETWEEN 0 AND 19
    GROUP BY t.user_id, t.ts, t.value
    ORDER BY t.user_id, t.ts
    """,
    survey_ids=("W5", "J8", "A1"),
)
def t20_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.25) per user,
    truncated to the trailing 20 observations so the recursive
    definition becomes a CLOSED-FORM band self-join: each row averages
    its last-20 history with weights 0.75^distance (the dropped tail
    weighs <= 0.75^20 ~ 0.3% of the mass). Exact EWMA needs a sequential
    scan per key (``streaming.ops.stateful_ewma`` — one float of state
    per key via applyInPandasWithState); this is the
    batch/backfill formulation. r15 replan: the band SELF-JOIN (20×
    row fan-out + a second hash aggregate to fold it back) is replaced
    by ONE window pass — ``collect_list(value)`` over the trailing-20
    frame, then an in-row Horner fold ``acc·0.75 + v`` for numerator
    and denominator (the same truncated geometric weights, so the
    quotient is value-identical: verified row-for-row equal at
    sf0.1/0.01/0.001). Plan: row_number, the join, and the 20× fan-out
    are gone; one user_id exchange + window + narrow project remain
    (measured 1.02 → 0.79 s at sf0.1). The fold is 2×≤20 interpreted
    ops per row — far below the Arrow-boundary threshold. The weighted
    sum is order-dependent → rounded to 6 dp on both sides."""
    from pyspark.sql import Window

    (events,) = tables(spark, sf_dir, "events")
    wf = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-19, 0)
    ewma = F.round(F.expr(
        "aggregate(__arr, cast(0.0 as double), (acc, v) -> acc * 0.75D + v)"
        " / aggregate(__arr, cast(0.0 as double),"
        "             (acc, v) -> acc * 0.75D + 1.0D)"), 6)
    return (events.select("user_id", "ts", "value")
            .withColumn("__arr", F.collect_list("value").over(wf))
            .select("user_id", "ts", "value", ewma.alias("ewma20"))
            .orderBy("user_id", "ts"))


@declared(
    "t21_session_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > CAST(1800 AS BIGINT) * 1000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(SUM(new_s) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_no
        FROM seq
    )
    SELECT user_id, session_no,
           min(ts)                  AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
           CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS INT) AS converted
    FROM sess GROUP BY 1, 2 ORDER BY user_id, session_no
    """,
    survey_ids=("T5", "A6", "W4"),
)
def t21_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: sessionize each user's events (30-min
    inactivity gap), then emit every session's ORDERED event-type path
    ('view>click>purchase') plus a conversion flag — the navigation-
    pattern query behind funnel diagnostics. Gaps-and-islands session
    ids (one lag + one running sum, both on the user key), then one
    grouped aggregate whose ordered concatenation is array_sort over
    (ts, event_id, type) structs — (ts, event_id) is unique so the
    path string is total-order deterministic in both engines. Session
    state is one struct per event within a session (bounded by the gap
    horizon), the same single-key single-shuffle shape as t5; at 100 TB
    the path strings stay short because sessions are inactivity-bounded
    by construction."""
    from pyspark.sql import Window

    (events,) = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    new_s = F.when(prev_ts.isNull() | (gap > 1800 * 1_000_000), 1) \
             .otherwise(0)
    sess = (events.select("user_id", "ts", "event_id", "event_type")
            .withColumn("new_s", new_s)
            .withColumn("session_no",
                        F.sum("new_s").over(
                            w.rowsBetween(Window.unboundedPreceding, 0))
                        .cast("long")))
    ordered = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type")))
    path = F.array_join(
        F.transform(ordered, lambda x: x["event_type"]), ">")
    return (sess.groupBy("user_id", "session_no")
            .agg(F.min("ts").alias("session_start"),
                 F.count(F.lit(1)).alias("n_events"),
                 path.alias("path"),
                 F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).cast("int").alias("converted"))
            .orderBy("user_id", "session_no"))


@declared(
    "t22_funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS v_ts
        FROM events GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS c_ts
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.v_ts
          AND e.ts <= v.v_ts + INTERVAL 24 HOUR
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS p_ts
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
          AND e.ts <= c.c_ts + INTERVAL 24 HOUR
        GROUP BY 1
    ),
    depth AS (
        SELECT v.user_id,
               CASE WHEN p.p_ts IS NOT NULL THEN 3
                    WHEN c.c_ts IS NOT NULL THEN 2
                    WHEN v.v_ts IS NOT NULL THEN 1
                    ELSE 0 END AS funnel_depth
        FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    )
    SELECT funnel_depth, COUNT(*) AS n_users
    FROM depth GROUP BY 1 ORDER BY funnel_depth
    """,
    survey_ids=("A1", "W6", "J4"),
)
def t22_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase, each step
    strictly after the previous and within a 24-hour conversion
    window): how many users reach each funnel depth.
    The oracle states it as three chained min-after aggregates with
    joins; the Spark plan computes all three stages with ONE shuffle —
    chained window aggregates over the same ``user_id`` partitioning
    (first-view ts, then min click after it, then min purchase after
    that — each window min reuses the partitioning Exchange), a
    per-user dedup on the already-partitioned frame, and a tiny
    4-row depth count. At 100 TB the plan moves the events table
    across the wire exactly once."""
    from pyspark.sql import Window

    (events,) = tables(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    ts, et = F.col("ts"), F.col("event_type")
    df = events.select("user_id", "ts", "event_type")
    df = df.withColumn("v_ts", F.min(F.when(et == "view", ts)).over(wu))
    day = F.expr("INTERVAL 24 HOURS")
    df = df.withColumn(
        "c_ts", F.min(F.when((et == "click") & (ts > F.col("v_ts"))
                             & (ts <= F.col("v_ts") + day), ts))
                 .over(wu))
    df = df.withColumn(
        "p_ts", F.min(F.when((et == "purchase") & (ts > F.col("c_ts"))
                             & (ts <= F.col("c_ts") + day), ts))
                 .over(wu))
    depth = (F.when(F.col("p_ts").isNotNull(), 3)
             .when(F.col("c_ts").isNotNull(), 2)
             .when(F.col("v_ts").isNotNull(), 1).otherwise(0))
    per_user = (df.groupBy("user_id")
                .agg(F.max("v_ts").alias("v_ts"),
                     F.max("c_ts").alias("c_ts"),
                     F.max("p_ts").alias("p_ts"))
                .withColumn("funnel_depth", depth))
    return (per_user.groupBy("funnel_depth")
            .agg(F.count("*").alias("n_users"))
            .orderBy("funnel_depth"))


@declared(
    "t23_retention_cohorts",
    oracle="""
    WITH wk AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w
        FROM events
    ),
    coh AS (SELECT user_id, MIN(w) AS cw FROM wk GROUP BY 1),
    act AS (
        SELECT c.cw AS cohort_week, k.w - c.cw AS week_offset,
               COUNT(*) AS n_active
        FROM wk k JOIN coh c USING (user_id)
        GROUP BY 1, 2
    ),
    base AS (SELECT cohort_week, n_active AS cohort_size
             FROM act WHERE week_offset = 0)
    SELECT a.cohort_week, a.week_offset, a.n_active, b.cohort_size,
           a.n_active / b.cohort_size AS retention
    FROM act a JOIN base b USING (cohort_week)
    ORDER BY cohort_week, week_offset
    """,
    survey_ids=("A1", "A3", "J2"),
)
def t23_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention analysis — users grouped by their first-active
    week (integer division of epoch micros, the repo's TZ-proof
    bucketing idiom), and for each later week the fraction of the
    cohort still active. ``retention`` is a single exact-int division
    (bit-identical, never rounded). Plan (r15, guide §2.4): ONE
    user_id shuffle — collect_set(week) dedups activity inside the
    aggregate and the cohort week is the set's array_min (the old
    distinct + per-user window paid two corpus shuffles) — then a tiny
    (cohort, offset) aggregate, and the offset-0 baseline as a window
    MAX over that same aggregate. The old baseline was a broadcast
    join of ``act.filter(offset == 0)`` back onto ``act`` — Catalyst
    shares no common subtrees, so the whole corpus chain ran TWICE;
    the window states it on the cohort-bounded frame with no second
    chain and no join (offset 0 always exists: the user defining the
    cohort min contributes it)."""
    from pyspark.sql import Window

    (events,) = tables(spark, sf_dir, "events")
    w = F.expr("unix_micros(ts) div 604800000000")
    per_user = (events.select("user_id", w.alias("w"))
                .groupBy("user_id").agg(F.collect_set("w").alias("__ws")))
    act = (per_user
           .select(F.array_min("__ws").alias("cw"),
                   F.explode("__ws").alias("w"))
           .groupBy(F.col("cw").alias("cohort_week"),
                    (F.col("w") - F.col("cw")).alias("week_offset"))
           .agg(F.count("*").alias("n_active")))
    size_w = Window.partitionBy("cohort_week")
    return (act.withColumn(
                "cohort_size",
                F.max(F.when(F.col("week_offset") == 0, F.col("n_active")))
                .over(size_w))
            .select("cohort_week", "week_offset", "n_active",
                    "cohort_size",
                    (F.col("n_active") / F.col("cohort_size"))
                    .alias("retention"))
            .orderBy("cohort_week", "week_offset"))


@declared(
    "t24_purchase_attribution",
    oracle="""
    WITH attributed AS (
        SELECT event_type, value,
               COALESCE(last_value(CASE WHEN event_type <> 'purchase'
                                        THEN event_type END IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING),
                        'direct') AS touch_type
        FROM events
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM attributed
    WHERE event_type = 'purchase'
    GROUP BY touch_type
    ORDER BY touch_type
    """,
    survey_ids=("W3", "A1"),
)
def t24_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent PRECEDING non-purchase event type ('direct'
    when the purchase is the user's first event), then revenue rolls up
    per touch type. Revenue is summed in integer CENTS
    (``floor(value*100 + 0.5)`` — floor is defined identically on both
    engines, unlike round/cast) so the accumulation is exact int
    arithmetic with no float-order hazard. Plan: ONE user_id window
    (running last-ignore-nulls over ts,event_id order — the same
    Exchange every per-user query here reuses), filter to purchases,
    tiny 5-row aggregate; events crosses the wire once."""
    from pyspark.sql import Window

    (events,) = tables(spark, sf_dir, "events")
    et = F.col("event_type")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.last(F.when(et != "purchase", et), ignorenulls=True).over(w)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (events
            .withColumn("touch_type", F.coalesce(touch, F.lit("direct")))
            .filter(et == "purchase")
            .groupBy("touch_type")
            .agg(F.count("*").alias("n_purchases"),
                 F.sum(cents).alias("revenue_cents"))
            .orderBy("touch_type"))
