"""Event-stream analytics on the ``events`` table (batch side).

Beyond-reference operators (SURVEY.md §7 Milestone 3): tumbling and
sliding time windows, gap-based sessionization, JSON property
extraction, and per-type stats, expressed in batch for the oracle
gate.

Session semantics note: Spark's ``session_window(ts, gap)`` closes a
session when the next event is >= last_ts + gap (windows are
half-open). The SQL oracle reproduces exactly that with a lag/cumsum
session numbering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.sources.tables import load_table

_GAP_MIN = 30

# Oracle-side events relation: parquet TIMESTAMP_NS truncated to the
# same microsecond precision the Spark loader uses.
_EV = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events"

# Same relation, no baked-in alias (for oracles that alias it themselves).
_EVQ = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"


def _dec(col, prec: int = 18, scale: int = 4):
    return col.cast(f"decimal({prec},{scale})")


def q_events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec(F.col("value"), 15)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


_TUMBLING_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
  count(*) AS n,
  CAST(sum(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS total_value
FROM {EV}
GROUP BY 1, 2
""".format(EV=_EV)


def q_events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding every 15 minutes (each event lands in
    two windows; epoch-aligned starts, exactly F.window semantics)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec(F.col("value"), 15)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


_SLIDING_ORACLE = """
WITH hits AS (
  SELECT CAST(to_timestamp(floor(epoch(ts) / 900) * 900 - k * 900) AS TIMESTAMP) AS window_start,
         value
  FROM {EV} CROSS JOIN (SELECT unnest([0, 1]) AS k)
)
SELECT window_start, count(*) AS n,
  CAST(sum(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS total_value
FROM hits
GROUP BY window_start
""".format(EV=_EV)


def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user via Spark-native session_window."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", f"{_GAP_MIN} minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec(F.col("value"), 15)).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


_SESSION_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              >= INTERVAL {_GAP_MIN} MINUTE
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM {_EV}
),
numbered AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ordered
)
SELECT user_id,
  min(ts) AS session_start,
  max(ts) + INTERVAL {_GAP_MIN} MINUTE AS session_end,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, session_no
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column + aggregate."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_JSON_ORACLE = """
SELECT event_type, count(*) AS n,
  CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
  max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def q_events_type_minute_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type per-10-minute event counts — dashboard-style rollup."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n")
    )


_RATE_ORACLE = """
SELECT CAST(to_timestamp(floor(epoch(ts) / 600) * 600) AS TIMESTAMP) AS bucket,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2
"""


# --- funnel: view -> click -> purchase within 24h of first view ----------

_FUNNEL_HOURS = 24


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user staged funnel: first view, first click after it, first
    purchase after that click — click and purchase must land within
    24 h of the view. Three keyed aggregations, no windows over the
    full stream and no self-join fan-out: each stage is a conditional
    min over the user's events, so the plan is shuffle-bounded by
    distinct users."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("view_ts")
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") >= F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"), F.first("view_ts").alias("view_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("purchase_ts"),
            F.first("view_ts").alias("view_ts"),
            F.first("click_ts").alias("click_ts"),
        )
    )
    lim = F.col("view_ts") + F.expr(f"INTERVAL {_FUNNEL_HOURS} HOURS")
    s1 = v.agg(F.count(F.lit(1)).alias("n_users")).select(
        F.lit("1_view").alias("stage"), "n_users"
    )
    s2 = (
        c.where(F.col("click_ts") <= lim)
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit("2_click").alias("stage"), "n_users")
    )
    s3 = (
        p.where((F.col("click_ts") <= lim) & (F.col("purchase_ts") <= lim))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit("3_purchase").alias("stage"), "n_users")
    )
    return s1.unionByName(s2).unionByName(s3)


_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS view_ts FROM {EV} ev0
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS click_ts, min(v.view_ts) AS view_ts
  FROM {EV} e JOIN v ON e.user_id = v.user_id AND e.ts >= v.view_ts
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts,
         min(c.view_ts) AS view_ts, min(c.click_ts) AS click_ts
  FROM {EV} e JOIN c ON e.user_id = c.user_id AND e.ts >= c.click_ts
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT '1_view' AS stage, count(*) AS n_users FROM v
UNION ALL
SELECT '2_click', count(*) FROM c
WHERE click_ts <= view_ts + INTERVAL {H} HOURS
UNION ALL
SELECT '3_purchase', count(*) FROM p
WHERE click_ts <= view_ts + INTERVAL {H} HOURS
  AND purchase_ts <= view_ts + INTERVAL {H} HOURS
""".format(EV=_EVQ, H=_FUNNEL_HOURS)


# --- weekly retention cohorts ---------------------------------------------


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort = each user's first-activity date; count distinct users
    active k whole weeks after their cohort date."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_date"))
    joined = ev.join(first, "user_id").select(
        "user_id",
        "cohort_date",
        (F.datediff(F.to_date("ts"), F.col("cohort_date")) / 7)
        .cast("int")
        .alias("week_offset"),
    )
    return joined.groupBy("cohort_date", "week_offset").agg(
        F.count_distinct("user_id").alias("n_users")
    )


_RETENTION_ORACLE = """
WITH first AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date FROM {EV} ev0 GROUP BY user_id
)
SELECT cohort_date,
  CAST(date_diff('day', cohort_date, CAST(e.ts AS DATE)) // 7 AS INT) AS week_offset,
  count(DISTINCT e.user_id) AS n_users
FROM {EV} e JOIN first USING (user_id)
GROUP BY 1, 2
""".format(EV=_EVQ)


# --- range join: events into their containing sessions -------------------


def q_events_in_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-join (operators/joins.py) each raw event into the
    gap-session interval containing it, then count per session —
    the generic interval-containment pattern, keyed on user so the
    equality column carries the shuffle."""
    from clearcare_data_pipeline_spark.operators.joins import range_join

    ev = load_table(spark, sf_dir, "events")
    sessions = q_events_sessionization(spark, sf_dir).select(
        F.col("user_id").alias("s_user"), "session_start", "session_end"
    )
    joined = range_join(
        ev,
        sessions,
        on=[("user_id", "s_user")],
        point="ts",
        lower="session_start",
        upper="session_end",
    )
    return joined.groupBy(
        F.col("s_user").alias("user_id"), "session_start"
    ).agg(F.count(F.lit(1)).alias("n_in_range"))


_IN_SESSIONS_ORACLE = """
WITH sessions AS ({SESSIONS})
SELECT s.user_id, s.session_start, count(*) AS n_in_range
FROM sessions s JOIN {EV} e
  ON e.user_id = s.user_id
 AND e.ts >= s.session_start AND e.ts < s.session_end
GROUP BY 1, 2
"""




# --- rate anomaly: z-score of 10-minute buckets vs the type's norm -------

_ANOM_Z = 2.5


def q_events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buckets whose event rate deviates > 2.5 sigma from that type's
    mean rate. Two keyed aggregations (bucket counts, then per-type
    moments over those counts) and a broadcast join back — counts are
    exact integers, so mean/variance derive from exact sums and the
    doubles match the oracle bit-for-bit as long as the expression
    shape is mirrored. At scale the bucket-count relation is tiny
    (types x time buckets), so the stats join broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n")
    )
    stats = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_buckets")
    var = F.col("ss").cast("double") / F.col("n_buckets") - mean * mean
    enriched = counts.join(F.broadcast(stats), "event_type").withColumn(
        "z",
        (F.col("n").cast("double") - mean) / F.sqrt(var),
    )
    return enriched.where(
        (F.col("ss").cast("double") / F.col("n_buckets") - mean * mean > 0)
        & (F.abs(F.col("z")) > _ANOM_Z)
    ).select("event_type", "bucket", "n", F.round("z", 6).alias("z"))


_ANOM_ORACLE = f"""
WITH counts AS (
  SELECT CAST(to_timestamp(floor(epoch(ts) / 600) * 600) AS TIMESTAMP) AS bucket,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, count(*) AS n_buckets,
         CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss
  FROM counts GROUP BY event_type
)
SELECT c.event_type, c.bucket, c.n,
       round((CAST(c.n AS DOUBLE) - CAST(s AS DOUBLE) / n_buckets)
             / sqrt(CAST(ss AS DOUBLE) / n_buckets
                    - (CAST(s AS DOUBLE) / n_buckets) * (CAST(s AS DOUBLE) / n_buckets)), 6) AS z
FROM counts c JOIN stats t ON c.event_type = t.event_type
WHERE CAST(ss AS DOUBLE) / n_buckets
      - (CAST(s AS DOUBLE) / n_buckets) * (CAST(s AS DOUBLE) / n_buckets) > 0
  AND abs((CAST(c.n AS DOUBLE) - CAST(s AS DOUBLE) / n_buckets)
          / sqrt(CAST(ss AS DOUBLE) / n_buckets
                 - (CAST(s AS DOUBLE) / n_buckets) * (CAST(s AS DOUBLE) / n_buckets))) > {_ANOM_Z}
"""




# --- Markov transition counts over per-user event sequences --------------


def q_events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts: lag(event_type) per user
    ordered by (ts, event_id), then a keyed count per (prev, cur)
    bigram. One window shuffle on user_id + one small agg — the plan a
    sequence model's data prep wants at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("cur_type"),
    ).where(F.col("prev_type").isNotNull())
    return pairs.groupBy("prev_type", "cur_type").agg(F.count(F.lit(1)).alias("n"))


_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS cur_type
  FROM events
)
SELECT prev_type, cur_type, count(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, cur_type
"""


# --- weighted moving average over each user's value series ---------------


def q_events_value_wma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-tap weighted moving average (0.5/0.3/0.2) of event values per
    user — expressed as two lags and a fixed-order arithmetic
    expression, so the doubles are bit-identical to the SQL twin.
    Restricted to purchase events to keep the verified output focused."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l1, l2 = F.lag("value", 1).over(w), F.lag("value", 2).over(w)
    wma = F.col("value") * 0.5 + l1 * 0.3 + l2 * 0.2
    return (
        ev.select("user_id", "event_id", "value", wma.alias("wma"))
        .where(F.col("wma").isNotNull())
        .select("user_id", "event_id", F.round("value", 6).alias("value"), F.round("wma", 6).alias("wma"))
    )


_WMA_ORACLE = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
seq AS (
  SELECT user_id, event_id, value,
         value * 0.5 + lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) * 0.3
                     + lag(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) * 0.2 AS wma
  FROM p
)
SELECT user_id, event_id, round(value, 6) AS value, round(wma, 6) AS wma
FROM seq WHERE wma IS NOT NULL
"""




# --- SCD2 validity intervals from the event change stream ----------------


def q_events_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build (operators/scd2.py): each user's purchase
    events become validity-interval versions — valid_from/valid_to
    half-open intervals, a current flag, and a version ordinal."""
    from clearcare_data_pipeline_spark.operators.scd2 import scd2_intervals

    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    out = scd2_intervals(ev, ["user_id"], "ts", tiebreak_cols=["event_id"])
    return out.select(
        "user_id", "event_id", F.round("value", 6).alias("value"),
        "valid_from", "valid_to", "is_current", "version",
    )


_SCD2_ORACLE = """
SELECT user_id, event_id, round(value, 6) AS value,
       CAST(ts AS TIMESTAMP) AS valid_from,
       lead(CAST(ts AS TIMESTAMP)) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current,
       CAST(row_number() OVER w AS INT) AS version
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""




# --- IGNORE NULLS frame navigation ---------------------------------------


def q_events_first_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and last non-null purchase value per user via IGNORE NULLS
    first/last over a full-frame ordered window (frame navigation the
    conditional-aggregate funnel can't express directly)."""
    ev = load_table(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    out = ev.select(
        "user_id",
        F.first(pv, ignorenulls=True).over(w).alias("first_purchase"),
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase"),
    ).distinct()
    return out.where(F.col("first_purchase").isNotNull()).select(
        "user_id",
        F.round("first_purchase", 6).alias("first_purchase"),
        F.round("last_purchase", 6).alias("last_purchase"),
    )


_FIRST_LAST_ORACLE = """
SELECT DISTINCT user_id,
  round(first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        OVER w, 6) AS first_purchase,
  round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        OVER w, 6) AS last_purchase
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
QUALIFY first_purchase IS NOT NULL
"""


# --- deterministic per-group sampling ------------------------------------

_SAMPLE_K = 3


def q_events_user_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-user event sample: keep each user's K events
    with the smallest md5(event_id) — a pseudo-random but engine-
    portable and re-run-stable choice (the per-group analog of the
    hash_split policy). One keyed window shuffle."""
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("user_id").orderBy(h.asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _SAMPLE_K)
        .select("user_id", "event_id", "event_type", F.col("rn").cast("int").alias("rn"))
    )


_USER_SAMPLE_ORACLE = f"""
SELECT user_id, event_id, event_type, CAST(rn AS INT) AS rn FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
  FROM events
) WHERE rn <= {_SAMPLE_K}
"""


QUERIES = {
    "events_first_last_purchase": q_events_first_last_purchase,
    "events_user_sample": q_events_user_sample,
    "events_scd2_versions": q_events_scd2_versions,
    "events_type_transitions": q_events_type_transitions,
    "events_value_wma": q_events_value_wma,
    "events_rate_anomaly": q_events_rate_anomaly,
    "events_funnel": q_events_funnel,
    "events_in_sessions": q_events_in_sessions,
    "events_retention": q_events_retention,
    "events_tumbling_hourly": q_events_tumbling_hourly,
    "events_sliding_windows": q_events_sliding_windows,
    "events_sessionization": q_events_sessionization,
    "events_json_props": q_events_json_props,
    "events_type_minute_rate": q_events_type_minute_rate,
}

ORACLES = {
    "events_first_last_purchase": _FIRST_LAST_ORACLE,
    "events_user_sample": _USER_SAMPLE_ORACLE,
    "events_scd2_versions": _SCD2_ORACLE,
    "events_type_transitions": _TRANSITIONS_ORACLE,
    "events_value_wma": _WMA_ORACLE,
    "events_rate_anomaly": _ANOM_ORACLE,
    "events_funnel": _FUNNEL_ORACLE,
    "events_in_sessions": _IN_SESSIONS_ORACLE.format(SESSIONS=_SESSION_ORACLE, EV=_EVQ),
    "events_retention": _RETENTION_ORACLE,
    "events_tumbling_hourly": _TUMBLING_ORACLE,
    "events_sliding_windows": _SLIDING_ORACLE,
    "events_sessionization": _SESSION_ORACLE,
    "events_json_props": _JSON_ORACLE,
    "events_type_minute_rate": _RATE_ORACLE,
}


# --- hourly gap fill + forward fill (locf) -------------------------------

_GAPFILL_HOURS = 24


def q_events_gap_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularized per-user time series: a 24-hour hourly spine from
    each user's first event, left-joined with actual hourly purchase
    totals, gaps forward-filled (locf) with IGNORE NULLS last(). The
    spine generates inside the engine (sequence + explode — no driver
    loop); decimal hourly sums keep engine parity before the fill."""
    ev = load_table(spark, sf_dir, "events")
    start = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0")
    )
    spine = start.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("t0"),
                F.col("t0") + F.expr(f"INTERVAL {_GAPFILL_HOURS - 1} HOURS"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour"),
    )
    hourly = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.sum(F.col("value").cast("decimal(15,4)")).cast("double").alias("v"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.round(F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(0.0)), 6).alias(
                "filled_value"
            ),
            F.col("v").isNotNull().alias("observed"),
        )
    )


_GAPFILL_ORACLE = f"""
WITH start AS (
  SELECT user_id, date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS t0
  FROM events GROUP BY user_id
),
spine AS (
  SELECT user_id, unnest(generate_series(t0, t0 + INTERVAL {_GAPFILL_HOURS - 1} HOUR,
                                         INTERVAL 1 HOUR)) AS hour
  FROM start
),
hourly AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         CAST(sum(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS v
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT s.user_id, s.hour,
  round(coalesce(last_value(v IGNORE NULLS) OVER
        (PARTITION BY s.user_id ORDER BY s.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 6) AS filled_value,
  v IS NOT NULL AS observed
FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour
"""

QUERIES["events_gap_filled"] = q_events_gap_filled
ORACLES["events_gap_filled"] = _GAPFILL_ORACLE


# --- top-k event types per hour window -----------------------------------

_WINDOW_TOPK = 3


def q_events_hourly_top_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k: the 3 most frequent event types in each hour
    (deterministic (count DESC, type) ranking) — the trending-items
    pattern: one keyed agg + a window over the tiny (hour, type)
    matrix, never over raw events."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("hour").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _WINDOW_TOPK)
        .select("hour", "event_type", "n", F.col("rk").cast("int").alias("rk"))
    )


_HOURLY_TOP_ORACLE = f"""
SELECT hour, event_type, n, CAST(rk AS INT) AS rk FROM (
  SELECT hour, event_type, n,
         row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type) AS rk
  FROM (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
               count(*) AS n
        FROM events GROUP BY 1, 2)
) WHERE rk <= {_WINDOW_TOPK}
"""

QUERIES["events_hourly_top_types"] = q_events_hourly_top_types
ORACLES["events_hourly_top_types"] = _HOURLY_TOP_ORACLE


# --- daily new vs returning users ----------------------------------------


def q_events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives split into first-ever-seen (new) vs returning —
    the first product-analytics chart anyone builds. First-seen date
    per user is one keyed agg; the daily split joins it back on the
    (user, day) distinct frame."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    first_seen = days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        days.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("long")).alias("new_users"),
            F.sum((F.col("day") != F.col("first_day")).cast("long")).alias("returning_users"),
        )
    )


_NEW_RETURNING_ORACLE = """
WITH days AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id FROM events),
first_seen AS (SELECT user_id, min(day) AS first_day FROM days GROUP BY user_id)
SELECT day,
  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
  CAST(sum(CASE WHEN day != first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
FROM days JOIN first_seen USING (user_id)
GROUP BY day
"""

QUERIES["events_new_vs_returning"] = q_events_new_vs_returning
ORACLES["events_new_vs_returning"] = _NEW_RETURNING_ORACLE
