"""Event-stream analytics over the ``events`` table.

Covers the window-function surface of the reference
(ColumnarWindowExec.scala:176-297: sum/min/max/count over partition,
rank, row_number, lag; frame UnboundedPreceding->CurrentRow at
:141-150) plus GetJsonObject (ColumnarUnaryOperator.scala case,
docs/Expressions-Compatibility.md:8-9) — re-expressed as declarative
DataFrame plans, and extended with the sessionization pipeline a
training-data/event system needs.

Timestamp note: events.parquet has shipped with two physical ``ts``
encodings — TIMESTAMP(NANOS) (read as BIGINT via the ``nanosAsLong``
legacy conf, then integer-divided ns -> us) and TIMESTAMP(MICROS,
isAdjustedToUTC=false) (read as TIMESTAMP_NTZ, cast to LTZ under the
UTC session timezone and ``unix_micros``'d). :func:`catalog.ts_us_expr`
branches on the OBSERVED dtype so both keep working; DuckDB's
``epoch_us(ts)`` oracle matches either way.

Scale notes (100 TB): every query here shuffles once on ``user_id``
(the session/window partition key) and aggregates within the
partition — no self-joins, no collects. A real deployment would
pre-bucket the event log by user_id to eliminate even that shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gazelle_plugin_spark.plans import query
from gazelle_plugin_spark.plans._util import dec, shuffle_width, t

#: session gap threshold: 30 minutes, in microseconds
SESSION_GAP_US = 30 * 60 * 1_000_000


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts_us`` (bigint epoch micros) and ``ts``
    (timestamp) columns; adapts to the observed ``ts`` encoding."""
    from gazelle_plugin_spark.catalog import ensure_nanos_as_long, ts_us_expr

    ensure_nanos_as_long(spark)
    df = t(spark, sf_dir, "events")
    return df.withColumn("ts_us", ts_us_expr(df)).withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    )


_EVENTS_CTE = """
WITH e AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
  FROM events
)
"""


@query(
    "events_sessionize",
    oracle=_EVENTS_CTE
    + f"""
, flagged AS (
  SELECT user_id, ts_us, value,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sess AS (
  SELECT user_id, ts_us, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(ts_us) - MIN(ts_us) AS duration_us,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def events_sessionize(spark, sf_dir):
    """Gap-based sessionization: a new session starts after a >30 min
    silence. lag + running-sum window -> per-session aggregate."""
    e = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts_us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = F.lag("ts_us").over(w)
    is_new = F.when(
        prev.isNull() | ((F.col("ts_us") - prev) > SESSION_GAP_US), 1
    ).otherwise(0)
    return (
        e.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "events_json_stats",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(k) AS BIGINT) AS n_k,
       CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k,
       MIN(k) AS min_k, MAX(k) AS max_k
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events)
GROUP BY event_type
ORDER BY event_type
""",
)
def events_json_stats(spark, sf_dir):
    """GetJsonObject parity (reference: ColumnarUnaryOperator case
    GetJsonObject): extract a numeric field from the JSON props column
    and aggregate per event type. Stays JVM-side — no UDF."""
    e = events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "events_json_edges",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(doc, '$.a.b') AS BIGINT) AS nested_b,
       CAST(json_extract_string(doc, '$.a.arr[1]') AS INT) AS arr_idx1,
       json_extract_string(doc, '$.a.arr[5]') AS arr_oob,
       json_extract_string(doc, '$.no.such.path') AS missing_path,
       json_extract_string(doc, '$.dup') AS dup_key,
       json_extract_string(doc, '$.nul') AS null_lit,
       json_extract_string(doc, '$.s') AS str_val
FROM (
  SELECT event_id,
         '{"a": {"b": ' || CAST(event_id AS VARCHAR)
           || ', "arr": [1, 2, 3]}, "dup": 1, "dup": 2, "nul": null, "s": "x'
           || CAST(user_id AS VARCHAR) || '"}' AS doc
  FROM events WHERE event_id < 200
)
ORDER BY event_id
""",
)
def events_json_edges(spark, sf_dir):
    """GetJsonObject EDGE semantics (reference caveats:
    docs/Expressions-Compatibility.md:8-9 — Gazelle diverged on quote
    handling and duplicate keys; we follow Spark, and this query pins
    the subset where Spark and DuckDB agree): nested paths, array
    indexing, out-of-bounds index -> NULL, missing path -> NULL,
    duplicate keys -> FIRST wins (both engines), JSON null -> SQL
    NULL, plain string extraction. Single-quoted documents (Spark
    tolerates, DuckDB rejects) are pinned Spark-side in
    tests/test_edge_semantics.py::test_get_json_object_spark_edges."""
    e = events(spark, sf_dir).filter(F.col("event_id") < 200)
    doc = F.concat(
        F.lit('{"a": {"b": '),
        F.col("event_id").cast("string"),
        F.lit(', "arr": [1, 2, 3]}, "dup": 1, "dup": 2, "nul": null, "s": "x'),
        F.col("user_id").cast("string"),
        F.lit('"}'),
    )
    j = lambda p: F.get_json_object(doc, p)
    return e.select(
        "event_id",
        j("$.a.b").cast("long").alias("nested_b"),
        j("$.a.arr[1]").cast("int").alias("arr_idx1"),
        j("$.a.arr[5]").alias("arr_oob"),
        j("$.no.such.path").alias("missing_path"),
        j("$.dup").alias("dup_key"),
        j("$.nul").alias("null_lit"),
        j("$.s").alias("str_val"),
    ).orderBy("event_id")


@query(
    "events_user_topk",
    oracle=_EVENTS_CTE
    + """
SELECT user_id, event_id, value, rk FROM (
  SELECT user_id, event_id, value,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY value DESC, event_id) AS INT) AS rk
  FROM e
) WHERE rk <= 3
ORDER BY user_id, rk
""",
)
def events_user_topk(spark, sf_dir):
    """Top-3 events per user by value — the rank-limit pushdown query
    (reference: LocalWindowExec + OptimizerOverrides.scala:39-218).
    Spark plans WindowGroupLimit: the top-k filter runs partially
    before the shuffle (pinned in tests/plan_goldens.json)."""
    e = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.select("user_id", "event_id", "value")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("user_id", "rk")
    )


@query(
    "events_lag_lead",
    oracle=_EVENTS_CTE
    + """
SELECT user_id, event_id,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       first_value(event_type) OVER w AS first_type,
       CAST(RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)
            AS INT) AS value_rank,
       CAST(DENSE_RANK() OVER (PARTITION BY user_id ORDER BY event_type)
            AS INT) AS type_rank
FROM e
WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
ORDER BY user_id, event_id
""",
)
def events_lag_lead(spark, sf_dir):
    """lag/lead/first_value/rank/dense_rank over a user-partitioned
    ordered window (reference window function set plus the
    dense_rank/lead/first_value it lacked — SURVEY.md §2.5)."""
    e = events(spark, sf_dir).filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            F.first("event_type").over(w).alias("first_type"),
            F.rank()
            .over(Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id"))
            .alias("value_rank"),
            F.dense_rank()
            .over(Window.partitionBy("user_id").orderBy("event_type"))
            .alias("type_rank"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "events_running_total",
    oracle=_EVENTS_CTE
    + """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
            (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_value,
       CAST(COUNT(*) OVER
            (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS running_n
FROM e
WHERE user_id < 10
ORDER BY user_id, event_id
""",
)
def events_running_total(spark, sf_dir):
    """Cumulative sum/count with the UnboundedPreceding->CurrentRow
    frame — the ONLY frame the reference accepted
    (ColumnarWindowExec.scala:141-150). Decimal-exact running sum so
    the hash is addition-order independent."""
    e = events(spark, sf_dir).filter(F.col("user_id") < 10)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.sum(dec("value")).over(w).cast("double").alias("running_value"),
            F.count(F.lit(1)).over(w).alias("running_n"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "events_time_parts",
    oracle="""
SELECT event_id,
       CAST(hour(ts) AS INT) AS hh,
       CAST(minute(ts) AS INT) AS mi,
       CAST(second(ts) AS INT) AS ss,
       CAST(epoch_us(ts) // 1000000 AS BIGINT) AS epoch_s,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS fmt,
       strftime(to_timestamp(epoch_us(ts) // 1000000), '%Y-%m-%d %H:%M:%S')
         AS from_unix,
       CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute_start
FROM events WHERE event_id < 300 ORDER BY event_id
""",
)
def events_time_parts(spark, sf_dir):
    """Sub-day datetime expression parity — hour/minute/second/
    unix-seconds/format/minute-truncation need a timestamp with a time
    component, which only events.ts has (orders dates are midnight).
    Completes the ColumnarDateTimeExpressions sweep
    (ColumnarDateTimeExpressions.scala:60-801) started in
    plans/expressions.py."""
    e = events(spark, sf_dir).filter(F.col("event_id") < 300)
    ts = F.col("ts")
    return e.select(
        "event_id",
        F.hour(ts).alias("hh"),
        F.minute(ts).alias("mi"),
        F.second(ts).alias("ss"),
        F.expr("unix_micros(cast(ts as timestamp_ltz)) div 1000000").alias("epoch_s"),
        F.date_format(ts, "yyyy-MM-dd HH:mm:ss").alias("fmt"),
        F.from_unixtime(
            F.expr("unix_micros(cast(ts as timestamp_ltz)) div 1000000")
        ).alias("from_unix"),
        F.date_trunc("minute", ts).alias("minute_start"),
    ).orderBy("event_id")


@query(
    "events_asof_join",
    oracle=_EVENTS_CTE
    + """
SELECT l.event_id, l.user_id, r.value AS last_signup_value
FROM (SELECT * FROM e WHERE event_type = 'click' AND user_id < 20) l
ASOF LEFT JOIN (SELECT * FROM e WHERE event_type = 'signup') r
  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
ORDER BY l.event_id
""",
)
def events_asof_join(spark, sf_dir):
    """As-of join: attach to each click the user's most recent signup
    value at that instant. The reference has no as-of kernel (SURVEY
    §2.3) and Spark has no ASOF JOIN — implemented as union +
    carry-forward window (operators/temporal.py): ONE shuffle on
    user_id, no theta join. Oracle: DuckDB's native ASOF JOIN."""
    from gazelle_plugin_spark.operators.temporal import asof_join

    e = events(spark, sf_dir)
    clicks = e.filter((F.col("event_type") == "click") & (F.col("user_id") < 20))
    signups = e.filter(F.col("event_type") == "signup")
    out = asof_join(
        clicks.select("event_id", "user_id", "ts_us"),
        signups.select("user_id", "ts_us", "value"),
        key="user_id",
        left_time="ts_us",
        right_time="ts_us",
        value_cols=["value"],
    )
    return out.select(
        "event_id", "user_id", F.col("value").alias("last_signup_value")
    ).orderBy("event_id")


@query(
    "events_range_join",
    oracle=_EVENTS_CTE
    + """
SELECT err.event_id, CAST(COUNT(*) AS BIGINT) AS n_nearby_clicks
FROM (SELECT * FROM e WHERE event_type = 'error') err
JOIN (SELECT * FROM e WHERE event_type = 'click') c
  ON err.user_id = c.user_id AND abs(err.ts_us - c.ts_us) <= 300000000
GROUP BY err.event_id
ORDER BY err.event_id
""",
)
def events_range_join(spark, sf_dir):
    """Bounded range join: clicks within +-5 min of each error by the
    same user. No range kernel exists in the reference or Spark —
    implemented as a (key, time-bucket) equi-join with neighbor-bucket
    explosion + residual |dt| filter (operators/temporal.py): bucketed
    cost, never |L|x|R| per key."""
    from gazelle_plugin_spark.operators.temporal import range_join_buckets

    e = events(spark, sf_dir)
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts_us").alias("c_ts_us")
    )
    pairs = range_join_buckets(
        errors,
        clicks,
        key="user_id",
        left_time="ts_us",
        right_time="c_ts_us",
        max_delta=300_000_000,
    )
    return (
        pairs.groupBy(F.col("l.event_id").alias("event_id"))
        .agg(F.count(F.lit(1)).alias("n_nearby_clicks"))
        .orderBy("event_id")
    )


@query(
    "events_funnel",
    oracle=_EVENTS_CTE
    + """
, stages AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts_us END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) AS t_purchase
  FROM e GROUP BY user_id
)
SELECT (t_view IS NOT NULL) AS viewed,
       (t_click IS NOT NULL AND t_click > t_view) AS clicked_after_view,
       (t_purchase IS NOT NULL AND t_purchase > t_click) AS purchased_after_click,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM stages
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""",
)
def events_funnel(spark, sf_dir):
    """Conversion funnel (view -> click -> purchase ordering per
    user): stage timestamps via conditional MIN in ONE pass over the
    events, then funnel-shape counts. The single-scan alternative to
    chained self-joins — at 100 TB this is one shuffle on user_id."""
    e = events(spark, sf_dir)
    t_of = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts_us")))
    stages = e.groupBy("user_id").agg(
        t_of("view").alias("t_view"),
        t_of("click").alias("t_click"),
        t_of("purchase").alias("t_purchase"),
    )
    return (
        stages.select(
            F.col("t_view").isNotNull().alias("viewed"),
            (F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_view"))).alias(
                "clicked_after_view"
            ),
            (
                F.col("t_purchase").isNotNull()
                & (F.col("t_purchase") > F.col("t_click"))
            ).alias("purchased_after_click"),
        )
        .groupBy("viewed", "clicked_after_view", "purchased_after_click")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("viewed", "clicked_after_view", "purchased_after_click")
    )


@query(
    "events_hourly",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def events_hourly(spark, sf_dir):
    """Time-bucketed rollup (hypertable-style continuous aggregate):
    truncate to the hour, aggregate per (hour, type). At scale this is
    the map-side-combinable shape — partial aggs shrink the shuffle to
    |hours|x|types| rows."""
    e = events(spark, sf_dir)
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


@query(
    "events_ntile",
    oracle=_EVENTS_CTE
    + """
SELECT user_id, event_id,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume,
       CAST(NTH_VALUE(event_id, 2) OVER (PARTITION BY user_id
            ORDER BY value DESC, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS BIGINT) AS second_best
FROM e
WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
ORDER BY user_id, event_id
""",
)
def events_ntile(spark, sf_dir):
    """ntile / percent_rank / cume_dist / nth_value — the window
    functions the reference LACKED entirely (SURVEY.md §2.5 'Missing
    vs Spark: dense_rank, percent_rank, ntile, lead, first/last_value,
    cume_dist'); with events_lag_lead this completes that list as
    oracle-verified built-ins. Ranks are deterministic via the
    (value DESC, event_id) total order; the two ratio functions are
    single divisions of identical ints, rounded before hashing."""
    e = events(spark, sf_dir).filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        e.select(
            "user_id",
            "event_id",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.nth_value("event_id", 2).over(w_full).alias("second_best"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "events_frames",
    oracle=_EVENTS_CTE
    + """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
            (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS value_5min,
       CAST(COUNT(*) OVER
            (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_5min,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
            (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS value_last4,
       CAST(MAX(CAST(value AS DECIMAL(12,2))) OVER
            (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS DOUBLE)
         AS max_next2
FROM e
WHERE user_id < 10
ORDER BY user_id, event_id
""",
)
def events_frames(spark, sf_dir):
    """Full frame-spec grammar — the reference accepted ONLY
    UnboundedPreceding->CurrentRow (ColumnarWindowExec.scala:141-150);
    Spark's complete grammar is exercised here: a VALUE-based RANGE
    frame (5-minute trailing window on the timestamp — ties share
    frames, so sums are keyed on ts only), a sliding ROWS frame
    (last 4 events), and a forward-looking ROWS frame (next 2).
    Decimal-exact sums keep the hashes addition-order independent."""
    e = events(spark, sf_dir).filter(F.col("user_id") < 10)
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-300_000_000, Window.currentRow)
    )
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(1, 2)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.sum(dec("value")).over(w_range).cast("double").alias("value_5min"),
            F.count(F.lit(1)).over(w_range).alias("n_5min"),
            F.sum(dec("value")).over(w_rows).cast("double").alias("value_last4"),
            F.max(dec("value")).over(w_fwd).cast("double").alias("max_next2"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "events_cohort_retention",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
),
first AS (
  SELECT user_id, MIN(w) AS cw FROM act GROUP BY user_id
)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', cw, w) // 7 AS INT) AS week_k,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM act JOIN first USING (user_id)
GROUP BY cw, datediff('day', cw, w) // 7
ORDER BY cohort_week, week_k
""",
)
def events_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week,
    counted in each subsequent week they were active — the standard
    product-analytics rollup an event warehouse must serve.

    Shape: distinct (user, week) -> per-user min week -> join back ->
    (cohort, offset) counts. Both the distinct and the min shuffle on
    user_id (one partitioning, reused); the retention matrix itself is
    O(weeks^2) rows. After the distinct, each (user, week) row is
    unique, so COUNT(*) per (cohort, offset) IS the distinct-user
    count — no second distinct needed. Week offsets divide exactly by
    7 (both bounds are Monday midnights)."""
    e = events(spark, sf_dir)
    act = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    first = act.groupBy("user_id").agg(F.min("w").alias("cw"))
    return (
        act.join(first, "user_id")
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("CAST(datediff(w, cw) div 7 AS INT)").alias("week_k"),
        )
        .groupBy("cohort_week", "week_k")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_k")
    )


@query(
    "events_zscore",
    oracle="""
SELECT user_id, event_id, value, z FROM (
  SELECT user_id, event_id, value,
         ROUND((value - s1 / n) /
               (CASE WHEN n > 1 AND (s2 - s1 * s1 / n) / (n - 1) > 0
                     THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) END), 6) AS z
  FROM (
    SELECT user_id, event_id, value,
           CAST(COUNT(*) OVER w AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(14,4))) OVER w AS DOUBLE) AS s2
    FROM events
    WINDOW w AS (PARTITION BY user_id)
  )
)
WHERE abs(z) > 2.5
ORDER BY user_id, event_id
""",
)
def events_zscore(spark, sf_dir):
    """Per-user anomaly detection: events whose value deviates more
    than 2.5 sample standard deviations from that user's mean — the
    outlier-flagging pass an event pipeline runs before training on
    behavioral data.

    ONE shuffle total: mean/stddev come from an unordered window over
    user_id (no ORDER BY -> whole-partition frame), so each event is
    scored in the same pass that computes its user's moments — no
    aggregate + join-back. stddev uses the algebraic decimal-exact
    form (sum, sum-of-squares) for cross-engine FP identity; value has
    2 fractional digits so value^2 is exact in DECIMAL(14,4)."""
    e = events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum(dec("value")).over(w).cast("double")
    s2 = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(14,4)"))
        .over(w)
        .cast("double")
    )
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    std = F.when((n > 1) & (var > 0), F.sqrt(var))
    z = F.round((F.col("value") - mean) / std, 6)
    return (
        e.select("user_id", "event_id", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.5)
        .orderBy("user_id", "event_id")
    )


@query(
    "events_markov",
    oracle=_EVENTS_CTE
    + """
, pairs AS (
  SELECT event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) AS prev_type
  FROM e
), counts AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_trans,
       ROUND(CAST(n_trans AS DOUBLE) /
             CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE),
             6) AS p_trans
FROM counts
ORDER BY prev_type, next_type
""",
)
def events_markov(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | prev_type) with exact integer counts.

    The sequence model behind session-based recommendation and
    behavioral anomaly scoring. lag() pairs each event with its
    predecessor inside the user's timeline (ties broken by event_id,
    the same total order every events_* query uses), then the
    transition matrix is a (prev, next) COUNT — map-side combinable —
    and the row-normalizing SUM runs over the TINY aggregate
    (|event_type|^2 rows), not the fact.

    Scale shape (100 TB): one user_id shuffle for the lag window (the
    same partitioning every events_* query reuses — a real deployment
    pre-buckets by user_id and pays zero), one combinable aggregate
    whose output is bounded by the type-vocabulary square, and a
    window over that bounded aggregate. Probabilities are one double
    division of exact BIGINT counts, rounded on both engines — no
    float accumulation anywhere.
    """
    e = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        e.select("user_id", "ts_us", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("n_trans"))
    row_tot = Window.partitionBy("prev_type")
    return (
        counts.withColumn(
            "p_trans",
            F.round(
                F.col("n_trans").cast("double")
                / F.sum("n_trans").over(row_tot).cast("double"),
                6,
            ),
        )
        .select("prev_type", "next_type", "n_trans", "p_trans")
        .orderBy("prev_type", "next_type")
    )


@query(
    "events_rfm",
    oracle=_EVENTS_CTE
    + """
, per_user AS (
  SELECT user_id,
         MAX(ts_us) AS last_ts_us,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM e GROUP BY user_id
)
SELECT user_id, last_ts_us, n_events, monetary,
       r_tile, f_tile, m_tile,
       CAST(r_tile AS VARCHAR) || CAST(f_tile AS VARCHAR)
         || CAST(m_tile AS VARCHAR) AS rfm_segment
FROM (
  SELECT per_user.*,
         CAST(NTILE(4) OVER (ORDER BY last_ts_us DESC, user_id) AS INT) AS r_tile,
         CAST(NTILE(4) OVER (ORDER BY n_events DESC, user_id) AS INT) AS f_tile,
         CAST(NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS INT) AS m_tile
  FROM per_user
) t
ORDER BY user_id
""",
)
def events_rfm(spark, sf_dir):
    """RFM segmentation: quartile scores for Recency (latest event),
    Frequency (event count) and Monetary (exact-decimal value sum)
    per user, concatenated into the classic '111'..'444' segment key.

    Scale shape: ONE user_id aggregate reduces the fact to user grain
    (map-side combinable), and only that user-grain relation — already
    orders of magnitude smaller than the event log — enters the three
    NTILE windows. The windows share an empty partitionBy, which at
    cluster scale is the known single-reducer shape: a production run
    over billions of USERS swaps NTILE for approx-quantile cut points
    (percentile_approx + a broadcast range join), the same output
    contract; at user-dimension cardinality the exact global sort is
    the right call. Ties are broken by user_id on both engines so
    every tile assignment is deterministic.
    """
    e = events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.max("ts_us").alias("last_ts_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("monetary"),
    )
    r_w = Window.orderBy(F.desc("last_ts_us"), "user_id")
    f_w = Window.orderBy(F.desc("n_events"), "user_id")
    m_w = Window.orderBy(F.desc("monetary"), "user_id")
    return (
        per_user.withColumn("r_tile", F.ntile(4).over(r_w))
        .withColumn("f_tile", F.ntile(4).over(f_w))
        .withColumn("m_tile", F.ntile(4).over(m_w))
        .select(
            "user_id",
            "last_ts_us",
            "n_events",
            "monetary",
            "r_tile",
            "f_tile",
            "m_tile",
            F.concat(
                F.col("r_tile").cast("string"),
                F.col("f_tile").cast("string"),
                F.col("m_tile").cast("string"),
            ).alias("rfm_segment"),
        )
        .orderBy("user_id")
    )


@query(
    "events_streak",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), numbered AS (
  SELECT user_id, d,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
  FROM days
), runs AS (
  SELECT user_id, d - CAST(rn AS INT) AS anchor,
         CAST(COUNT(*) AS BIGINT) AS len, MIN(d) AS s
  FROM numbered GROUP BY user_id, d - CAST(rn AS INT)
), best AS (
  SELECT user_id, len, s,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY len DESC, s) AS rk,
         CAST(SUM(len) OVER (PARTITION BY user_id) AS BIGINT)
           AS n_active_days
  FROM runs
)
SELECT user_id, len AS longest_streak,
       CAST(s AS TIMESTAMP) AS streak_start, n_active_days
FROM best WHERE rk = 1
ORDER BY user_id
""",
)
def events_streak(spark, sf_dir):
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands shape (engagement metric for retention work).

    ``date - row_number`` is constant within a consecutive run, so
    runs fall out of one GROUP BY on that anchor — no self-join, no
    iterative logic. The per-user longest run then needs NO second
    window: ``max(struct(len, -day_number, start))`` folds the
    (longest, earliest-start) tie-break into a combinable aggregate
    (the oracle's ROW_NUMBER formulation proves equivalence).

    Scale shape: three exchanges before the final ORDER BY — the
    DISTINCT on (user_id, day), the user_id window, the (user_id,
    anchor) run-count — but every one of them moves the (user, day)
    grain, already collapsed from the raw event log by the DISTINCT's
    partial (map-side) aggregation, never the fact itself. A
    user_id-bucketed event log collapses all three into in-partition
    work.
    """
    e = events(spark, sf_dir)
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = (
        days.withColumn("rn", F.row_number().over(w))
        .withColumn("anchor", F.expr("date_sub(d, rn)"))
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("len"), F.min("d").alias("s"))
    )
    epoch = F.lit("1970-01-01").cast("date")
    return (
        runs.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("len"),
                    (-F.datediff(F.col("s"), epoch)).alias("neg_day"),
                    F.col("s").alias("s"),
                )
            ).alias("best"),
            F.sum("len").alias("n_active_days"),
        )
        .select(
            "user_id",
            F.col("best.len").alias("longest_streak"),
            F.col("best.s").cast("timestamp").alias("streak_start"),
            "n_active_days",
        )
        .orderBy("user_id")
    )


#: gap-fill grid resolution: one hour, in microseconds.
HOUR_US = 3_600_000_000


@query(
    "events_gapfill",
    oracle=_EVENTS_CTE
    + f"""
, hourly AS (
  SELECT user_id, ts_us // {HOUR_US} AS h,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
  FROM e GROUP BY 1, 2
), spans AS (
  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT user_id, UNNEST(generate_series(h0, h1)) AS h FROM spans
)
SELECT g.user_id,
       make_timestamp(g.h * {HOUR_US}) AS hour_ts,
       CAST(COALESCE(hourly.n, 0) AS BIGINT) AS n_events,
       hourly.v AS hour_value,
       last_value(hourly.v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       CASE WHEN hourly.h IS NULL THEN 1 ELSE 0 END AS is_gap
FROM grid g LEFT JOIN hourly
  ON g.user_id = hourly.user_id AND g.h = hourly.h
ORDER BY g.user_id, g.h
""",
)
def events_gapfill(spark, sf_dir):
    """Time-series gap fill + forward fill (the resample/ffill a
    metrics or feature-engineering pipeline runs before modeling):
    the event stream rolls up to a per-(user, hour) grain, each
    user's span densifies to a complete hourly grid (missing hours
    materialize as rows with n_events = 0), and the last observed
    hourly value carries forward across gaps via
    ``last(..., ignorenulls=True)`` over the user timeline.

    Scale shape: the fact shuffles ONCE to (user, hour) grain (one
    map-side-combinable aggregate); spans, the in-row
    sequence+explode grid, the grid<->hourly join, and the
    forward-fill window all run at HOUR grain — orders of magnitude
    smaller than the event log. The forward-fill is the canonical
    running ``last() ignorenulls`` frame (UnboundedPreceding ->
    CurrentRow, the frame the reference accepted —
    ColumnarWindowExec.scala:141-150); DuckDB proves it with
    last_value IGNORE NULLS. The grid join keys on (user, hour) —
    both sides already partitioned by the hourly aggregate's
    exchange, and the grid side is derived FROM hourly, so at any
    scale the join is between two hour-grain relations.
    """
    e = events(spark, sf_dir)
    hourly = (
        e.select("user_id", (F.col("ts_us") / HOUR_US).cast("long").alias("h"),
                 dec("value").alias("dv"))
        .groupBy("user_id", "h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dv").cast("double").alias("v"),
        )
    )
    # explicit-width spread BEFORE the explode: the user-bounds
    # relation is tiny (one row per user), so AQE coalesces its
    # aggregate exchange to ONE partition at runtime — and the ~720x
    # sequence explode would then multiply every row in a single task
    # (measured at the sf1 scale study: 7-9s single-task stages that
    # scale linearly with users). The repartition keys must NOT equal
    # the aggregate's partitioning (a bare user_id repartition is
    # elided as redundant by the optimizer, putting the explode right
    # back on the AQE-coalesced exchange); (user_id, h0) forces a
    # user-specified-width exchange AQE leaves alone, and the explode
    # runs on all cores.
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .repartition(shuffle_width(spark), "user_id", "h0")
        .select(
            "user_id",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.timestamp_micros(F.col("h") * HOUR_US).alias("hour_ts"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.col("v").alias("hour_value"),
            F.last("v", ignorenulls=True).over(w).alias("filled_value"),
            F.when(F.col("n").isNull(), 1).otherwise(0).alias("is_gap"),
        )
        .orderBy("user_id", "hour_ts")
    )


@query(
    "events_ohlc",
    oracle=_EVENTS_CTE
    + f"""
, rn AS (
  SELECT user_id, ts_us // {HOUR_US} AS h, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts_us // {HOUR_US}
                            ORDER BY ts_us, event_id) AS rno,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts_us // {HOUR_US}
                            ORDER BY ts_us DESC, event_id DESC) AS rnc
  FROM e
)
SELECT user_id,
       make_timestamp(h * {HOUR_US}) AS hour_ts,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(CASE WHEN rno = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rnc = 1 THEN value END) AS close,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS volume
FROM rn
GROUP BY user_id, h
ORDER BY user_id, hour_ts
""",
)
def events_ohlc(spark, sf_dir):
    """OHLC resampling (the candlestick/feature rollup a time-series
    store serves): per (user, hour) bucket — first value (open), max
    (high), min (low), last value (close), event count, and exact
    decimal volume.

    Scale shape: ONE map-side-combinable aggregate — open/close need
    no window and no sort: ``min_by/max_by(value, okey)`` fold the
    earliest/latest event into the same HASH-aggregate pass as
    high/low/count/sum. The ordering key packs (ts_us, event_id) into
    a single fixed-width DECIMAL(38,0) (ts_us * 10^12 + event_id —
    event ids up to 10^12 stay tie-exact; a struct key would be
    correct too but demotes the whole aggregate to SortAggregate,
    i.e. a sort of the fact — measured and rejected, plan-golden
    pins HashAggregate via no SortAggregate special). The oracle's
    two ROW_NUMBER windows prove the fold. The shuffle carries one
    fixed-width row per (user, hour) bucket — at 100 TB the event
    log streams once, and a user_id-bucketed layout drops even that
    exchange.
    """
    e = events(spark, sf_dir)
    okey = F.col("ts_us").cast("decimal(38,0)") * 1_000_000_000_000 + F.col(
        "event_id"
    )
    b = e.select(
        "user_id",
        (F.col("ts_us") / HOUR_US).cast("long").alias("h"),
        okey.alias("okey"),
        "value",
        dec("value").alias("dv"),
    )
    return (
        b.groupBy("user_id", "h")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("value", F.col("okey")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("okey")).alias("close"),
            F.sum("dv").cast("double").alias("volume"),
        )
        .select(
            "user_id",
            F.timestamp_micros(F.col("h") * HOUR_US).alias("hour_ts"),
            "n_events",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
        .orderBy("user_id", "hour_ts")
    )


@query(
    "events_decay",
    oracle="""
WITH d AS (
  SELECT user_id, value, CAST(ts AS DATE) AS day FROM events
),
mx AS (SELECT MAX(day) AS maxd FROM d)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(ROUND(value * power(0.5, date_diff('day', day, maxd)), 9)
                           AS DECIMAL(28,9))) AS DOUBLE), 6) AS decay_score
FROM d, mx
GROUP BY user_id
ORDER BY user_id
""",
)
def events_decay(spark, sf_dir):
    """Half-life-decayed engagement score per user: each event
    contributes ``value * 0.5^age_days`` relative to the corpus's
    newest day — the recency weighting a feature store / reward model
    pipeline applies to interaction logs.

    Scale shape: the global max-day is a 1-row aggregate BROADCAST
    against the stream (the q11/q22 scalar-subquery pattern — never a
    driver collect), decay terms are per-row expressions, and the
    rollup is one combinable user_id aggregate. Float discipline:
    0.5^n is exact in IEEE754 and value*decay is a single multiply —
    identical bits on any engine; each term rounds to 9dp and sums as
    DECIMAL(28,9) (order-free), so the 6dp score is stable at any
    partitioning."""
    e = events(spark, sf_dir).select(
        "user_id", "value", F.to_date("ts").alias("day")
    )
    mx = e.agg(F.max("day").alias("maxd"))
    term = e.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.round(
            F.col("value") * F.pow(F.lit(0.5), F.datediff("maxd", "day")), 9
        )
        .cast("decimal(28,9)")
        .alias("wv"),
    )
    return (
        term.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("wv").cast("double"), 6).alias("decay_score"),
        )
        .orderBy("user_id")
    )


@query(
    "events_scd2",
    oracle=_EVENTS_CTE
    + """,
ordered AS (
  SELECT user_id, ts_us, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS is_change
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
runs AS (
  SELECT user_id, ts_us, event_id, event_type,
         CAST(SUM(is_change) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS INT)
           AS version
  FROM ordered
),
hist AS (
  SELECT user_id, version, MIN(event_type) AS state,
         MIN(ts_us) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM runs GROUP BY user_id, version
)
SELECT user_id, version, state, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       (lead(valid_from) OVER w2 IS NULL) AS is_current,
       n_events
FROM hist
WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
ORDER BY user_id, version
""",
)
def events_scd2(spark, sf_dir):
    """SCD-2 dimension history build from a change stream — the
    warehouse op that turns an event log into validity-interval
    rows: consecutive equal states collapse into one version with
    [valid_from, valid_to) bounds and an is_current flag on the open
    tail. Complements rel_merge_upsert (SCD-1 overwrite): SCD-2
    PRESERVES history. Classic gaps-and-islands change capture:
    lag() marks state changes, a running sum numbers versions, one
    group-by collapses runs, lead() closes each interval with the
    next version's start.

    Scale shape: ONE hash exchange on user_id serves all three
    windows and the aggregate (same partitioning throughout — Spark
    plans a single Exchange); state is per-user-bounded. The
    deterministic (ts_us, event_id) sort key makes version numbering
    identical across engines even for same-microsecond events.
    """
    e = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("event_type").over(w)
    ordered = e.select(
        "user_id", "ts_us", "event_id", "event_type",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1)
        .otherwise(0)
        .alias("is_change"),
    )
    runs = ordered.withColumn(
        "version",
        F.sum("is_change")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"),
    )
    hist = runs.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"),
        F.min("ts_us").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    nxt = F.lead("valid_from").over(w2)
    return (
        hist.select(
            "user_id", "version", "state", "valid_from",
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
            "n_events",
        )
        .orderBy("user_id", "version")
    )
