"""Event-stream operators in batch form (SURVEY §2C: JSON, time buckets,
sessionization, as-of enrichment, window analytics).

Streaming execution of the same logic lives in ``streaming/events.py``
(file-replay → memory sink, batch-equivalence asserted in tests); these
batch twins are the oracle-checkable surface. Gap comparisons use integer
microseconds (unix_micros / epoch_us) so both engines compare exact ints.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from . import register
from ._util import dbl, dec, t

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


# ----------------------------------------------------------- JSON access
@register(
    "json_extract_props",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select(
        "event_id", "event_type", k.alias("k"), (k % 10).alias("k_bucket")
    )


# ----------------------------------------------------------- time buckets
@register(
    "time_bucket_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def time_bucket_hourly(spark: SparkSession, sf_dir: str):
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            dbl(F.sum(dec("value"))).alias("total_value"),
        )
    )


# tumbling-window form via the streaming module's operator (batch mode).
@register(
    "stream_tumbling_batch_equiv",
    """
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_batch_equiv(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            dbl(F.sum(dec("value"))).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n", "total_value"
        )
    )


# ---------------------------------------------------------- sessionization
_SESSION_SQL = f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - epoch_us(
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                  >= {SESSION_GAP_US} OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
      FROM gaps)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, session_id
"""


@register("sessionize_events", _SESSION_SQL)
def sessionize_events(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev_ts)) >= SESSION_GAP_US),
        1,
    ).otherwise(0)
    return (
        e.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wsum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            dbl(F.sum(dec("value"))).alias("session_value"),
        )
    )


# session_window native operator (batch mode) — same session grouping, with
# the end extended by the gap (session_window semantics).
@register(
    "session_window_stats",
    f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                  >= {SESSION_GAP_US} OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
      FROM gaps)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def session_window_stats(spark: SparkSession, sf_dir: str):
    from ..streaming.events import sessionized_stream

    e = t(spark, sf_dir, "events")
    return sessionized_stream(e, gap="30 minutes").select(
        "user_id", "session_start", "session_end", "n_events"
    )


# ------------------------------------------------------------ as-of join
@register(
    "asof_last_view_before_purchase",
    """
    WITH marked AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_id
      FROM events)
    SELECT event_id, user_id, ts, last_view_id
    FROM marked WHERE event_type = 'purchase'
    """,
)
def asof_last_view_before_purchase(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_view = F.last(
        F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("last_view_id", last_view)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_view_id")
    )


# ------------------------------------------------------- window analytics
@register(
    "window_rank_events_per_user",
    """
    SELECT event_id, user_id,
           RANK() OVER (PARTITION BY user_id
                        ORDER BY CAST(value AS DECIMAL(12,2)) DESC, event_id) AS rk
    FROM events
    """,
)
def window_rank_events_per_user(spark: SparkSession, sf_dir: str):
    w = Window.partitionBy("user_id").orderBy(dec("value").desc(), F.col("event_id"))
    return t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.rank().over(w).alias("rk")
    )


@register(
    "events_type_share",
    """
    SELECT event_type, COUNT(*) AS n,
           COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
    FROM events GROUP BY event_type
    """,
)
def events_type_share(spark: SparkSession, sf_dir: str):
    counts = (
        t(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("n"))
    )
    return counts.select(
        "event_type",
        "n",
        (F.col("n") / F.sum("n").over(Window.partitionBy()).cast("double")).alias("share"),
    )


# -------------------------------------------------- watermark-style dedup
@register(
    "dedup_events_by_id",
    """
    SELECT COUNT(*) AS n_unique FROM (SELECT DISTINCT event_id FROM events)
    """,
)
def dedup_events_by_id(spark: SparkSession, sf_dir: str):
    return (
        t(spark, sf_dir, "events")
        .dropDuplicates(["event_id"])
        .agg(F.count("*").alias("n_unique"))
    )


# --------------------------------- custom stateful op (streaming replay)
_STATEFUL_SEQ = [0]


@register(
    "stateful_user_totals_stream",
    """
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    """,
)
def stateful_user_totals_stream(spark: SparkSession, sf_dir: str):
    """applyInPandasWithState driven by a real 2-microbatch file replay:
    per-user running totals carried in GroupState across triggers; the last
    emission per user must equal the batch groupBy (the oracle). Counts
    only in the checked output — float sums accumulate in replay order and
    are asserted with tolerance in tests instead."""
    import tempfile

    from ..streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        stateful_user_totals,
    )

    replay = tempfile.mkdtemp(prefix="events_replay_") + "/events"
    t(spark, sf_dir, "events").repartition(2).write.mode("overwrite").parquet(replay)
    _STATEFUL_SEQ[0] += 1
    name = f"stateful_user_totals_{_STATEFUL_SEQ[0]}"
    run_stream_to_memory(
        stateful_user_totals(read_events_stream(spark, replay)), name, mode="update"
    )
    emitted = spark.sql(f"SELECT * FROM {name}")
    return emitted.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


# ------------------------------------------------- stream-static join
@register(
    "stream_static_join_segments",
    """
    SELECT date_trunc('hour', ts) AS win_start,
           c_mktsegment AS segment,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_join_segments(spark: SparkSession, sf_dir: str):
    """Stream-static dimension enrichment run as a REAL 2-microbatch file
    replay: events stream ⋈ broadcast customer dim → hourly totals per
    market segment (complete-mode state), equal to the batch join+agg the
    oracle runs. Decimal accumulation keeps the streamed sum exact across
    microbatch order."""
    import tempfile

    from ..streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        stream_static_segment_totals,
    )

    replay = tempfile.mkdtemp(prefix="events_replay_") + "/events"
    t(spark, sf_dir, "events").repartition(2).write.mode("overwrite").parquet(replay)
    _STATEFUL_SEQ[0] += 1
    name = f"stream_static_segments_{_STATEFUL_SEQ[0]}"
    run_stream_to_memory(
        stream_static_segment_totals(
            read_events_stream(spark, replay), t(spark, sf_dir, "customer")
        ),
        name,
        mode="complete",
    )
    return spark.sql(f"SELECT * FROM {name}")


# --------------------------------------------- streaming watermark dedup
@register(
    "stream_watermark_dedup",
    """
    SELECT COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    """,
)
def stream_watermark_dedup(spark: SparkSession, sf_dir: str):
    """dropDuplicatesWithinWatermark under real duplication: the replay dir
    holds TWO copies of every event file, so the stream sees each event
    twice across microbatches; the dedup state (keyed on event_id, bounded
    by a 60-day watermark that covers the corpus span) must emit each
    exactly once. Totals over the surviving rows equal plain batch totals
    over the base table — duplicates carry identical payloads, so the
    decimal sum is survivor-choice-independent."""
    import tempfile

    from ..streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        streaming_dedup,
    )

    replay = tempfile.mkdtemp(prefix="events_replay_") + "/events"
    ev = t(spark, sf_dir, "events").repartition(2)
    ev.write.mode("overwrite").parquet(replay)
    ev.write.mode("append").parquet(replay)
    _STATEFUL_SEQ[0] += 1
    name = f"stream_wm_dedup_{_STATEFUL_SEQ[0]}"
    run_stream_to_memory(
        streaming_dedup(read_events_stream(spark, replay), watermark="60 days"), name
    )
    return spark.sql(f"SELECT * FROM {name}").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dbl(F.sum(dec("value"))).alias("total_value"),
    )


# ----------------------------------------------------- sliding windows
@register(
    "sliding_window_counts",
    """
    WITH starts AS (
      SELECT event_id, event_type, value,
             unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
               AS win_start
      FROM events)
    SELECT win_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM starts GROUP BY win_start, event_type
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str):
    """1-hour windows sliding every 30 minutes — each event lands in exactly
    two windows; Spark's window() generates the assignment without a row
    explosion on the oracle side being semantically different."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            dbl(F.sum(dec("value"))).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n", "total_value"
        )
    )


# ------------------------------------------------------- salted operators
@register(
    "salted_user_counts",
    """
    SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    """,
)
def salted_user_counts(spark: SparkSession, sf_dir: str):
    """Two-phase salted count (operators/skew.py) — equal to a plain
    GROUP BY, but the shuffle spreads each hot user over 8 tasks."""
    from ..operators.skew import salted_groupby_count

    return salted_groupby_count(
        t(spark, sf_dir, "events"), "user_id", n_salts=8, salt_source="event_id"
    )


@register(
    "salted_join_user_revenue",
    """
    WITH dim AS (
      SELECT DISTINCT user_id, user_id % 5 AS segment FROM events)
    SELECT segment, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events JOIN dim USING (user_id)
    GROUP BY segment
    """,
)
def salted_join_user_revenue(spark: SparkSession, sf_dir: str):
    """Salted equi-join (operators/skew.py): big side salted per-row, dim
    side replicated ×8 — the hot user's rows spread across tasks; result
    identical to the plain join."""
    from ..operators.skew import salted_equi_join

    e = t(spark, sf_dir, "events")
    dim = e.select("user_id").distinct().withColumn(
        "segment", F.col("user_id") % 5
    )
    joined = salted_equi_join(e, dim, "user_id", n_salts=8, salt_source="event_id")
    return joined.groupBy("segment").agg(
        F.count("*").alias("n_events"),
        dbl(F.sum(dec("value"))).alias("total_value"),
    )


# --------------------------------- applyInPandas grouped map (with oracle)
@register(
    "pandas_grouped_deviation",
    """
    SELECT event_id, event_type,
           value - (CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY event_type)
                         AS DOUBLE)
                    / COUNT(*) OVER (PARTITION BY event_type)) AS dev
    FROM events
    """,
)
def pandas_grouped_deviation(spark: SparkSession, sf_dir: str):
    """Arrow-batched grouped-map (applyInPandas) with an EXACT oracle: each
    event's deviation from its type's mean. The group mean is computed in
    integer cents inside the UDF (value is 2-decimal-clean), matching the
    oracle's decimal sum bit-for-bit — demonstrating that even the Python
    escape hatch can stay hash-comparable when arithmetic is chosen
    deliberately."""
    import pandas as pd

    def dev(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf["value"] * 100).round().astype("int64")
        total = float(cents.sum()) / 100.0  # == double(decimal sum)
        mean = total / len(pdf)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "dev": pdf["value"] - mean,
            }
        )

    return (
        t(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(dev, "event_id bigint, event_type string, dev double")
    )


# -------------------------------------------- range-frame window (RANGE)
@register(
    "window_range_frame_5min",
    """
    SELECT event_id, user_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
             AS n_last_5min
    FROM events
    """,
)
def window_range_frame_5min(spark: SparkSession, sf_dir: str):
    """RANGE frame over event time: events per user in the trailing 5
    minutes — the frame bound is a VALUE offset (microseconds), not a row
    count, so ties and gaps behave correctly."""
    e = t(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-300_000_000, 0)
    )
    return e.select(
        "event_id", "user_id", F.count("*").over(w).alias("n_last_5min")
    )


# ---------------------------------------------- interval (range) join
@register(
    "interval_join_view_purchase",
    """
    SELECT p.user_id AS p_user, p.event_id AS purchase_id,
           v.event_id AS view_id, v.ts AS view_ts, p.ts AS purchase_ts
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
)
def interval_join_view_purchase(spark: SparkSession, sf_dir: str):
    """Batch form of the stream-stream interval join (streaming twin +
    batch-equivalence in streaming/events.py / tests/test_streaming.py)."""
    from ..streaming.events import view_purchase_interval_join

    e = t(spark, sf_dir, "events")
    return view_purchase_interval_join(
        e.filter(F.col("event_type") == "view"),
        e.filter(F.col("event_type") == "purchase"),
    )


# ------------------------------------------------- datetime function suite
@register(
    "datetime_functions",
    """
    SELECT event_id,
           year(ts) AS y, quarter(ts) AS q, month(ts) AS mo, day(ts) AS d,
           dayofweek(ts) + 1 AS dow, hour(ts) AS h, minute(ts) AS mi,
           weekofyear(ts) AS woy,
           CAST(last_day(ts) AS TIMESTAMP) AS month_end,
           CAST(CAST(ts + INTERVAL 30 DAY AS DATE) AS TIMESTAMP) AS plus30,
           datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS days_since
    FROM events WHERE event_id % 20 = 0
    """,
)
def datetime_functions(spark: SparkSession, sf_dir: str):
    """Date/time function family. Cross-engine quirk handled: Spark's
    dayofweek is 1=Sunday..7, DuckDB's is 0=Sunday..6 (+1 in the oracle)."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    return e.select(
        "event_id",
        F.year("ts").alias("y"),
        F.quarter("ts").alias("q"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.weekofyear("ts").alias("woy"),
        F.last_day("ts").cast("timestamp").alias("month_end"),
        F.date_add(F.to_date("ts"), 30).cast("timestamp").alias("plus30"),
        F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
    )


# ------------------------------------------------------- funnel analysis
@register(
    "funnel_view_click_purchase",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchased_after_click
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str):
    """Ordered-sequence funnel: users who viewed, then clicked strictly
    after their first view, then purchased strictly after that click.
    The stage times are successive window columns over one user_id
    partition (t_view, then the first click after it, then the first
    purchase after that), so one shuffle and one sort feed all three
    stages and the per-user fold that follows, which keeps that
    partitioning; only the final three counts gather to one task. A user
    whose view events all have a null ts still counts as viewed (the
    oracle's COUNT(*) over its GROUP BY), with a null t_view that no
    click follows."""
    w = Window.partitionBy("user_id")
    typ, ts = F.col("event_type"), F.col("ts")

    def first(event_type, after=None):
        hit = typ == event_type
        if after is not None:
            hit = hit & (ts > F.col(after))
        return F.min(F.when(hit, ts)).over(w)

    per_user = (
        t(spark, sf_dir, "events")
        .filter(typ.isin("view", "click", "purchase"))
        .withColumn("t_view", first("view"))
        .withColumn("t_click", first("click", "t_view"))
        .withColumn("t_purchase", first("purchase", "t_click"))
        .groupBy("user_id")
        .agg(
            F.max(typ == "view").alias("viewed"),
            F.max("t_click").alias("t_click"),
            F.max("t_purchase").alias("t_purchase"),
        )
    )
    return per_user.agg(
        F.count_if("viewed").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
    )


# ------------------------------------------------------ cohort retention
@register(
    "cohort_retention",
    """
    WITH first_day AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort,
             datediff('day', f.cohort, CAST(date_trunc('day', e.ts) AS DATE))
               AS day_offset
      FROM events e JOIN first_day f ON e.user_id = f.user_id)
    SELECT CAST(cohort AS TIMESTAMP) AS cohort, day_offset, COUNT(*) AS n_users
    FROM activity GROUP BY cohort, day_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str):
    """Cohort × day-offset retention triangle: users grouped by first-seen
    day, counted on each subsequent active day. First-seen and activity
    both partition on user_id — one shuffle, then a small re-agg on the
    (cohort, offset) pairs."""
    e = t(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("cohort")
    )
    activity = (
        e.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort",
            F.datediff(F.to_date(F.date_trunc("day", F.col("ts"))), F.col("cohort"))
            .alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort", "day_offset")
        .agg(F.count("*").alias("n_users"))
        .withColumn("cohort", F.col("cohort").cast("timestamp"))
    )


# ------------------------------------------- rolling stats (exact sums)
@register(
    "window_rolling_stats",
    """
    WITH s AS (
      SELECT user_id, event_id, ts,
             CAST(value AS DECIMAL(12,2)) AS v,
             COUNT(*) OVER w AS n_win,
             SUM(CAST(value AS DECIMAL(12,2))) OVER w AS sum_dec,
             SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
               OVER w AS sumsq_dec
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id,
           n_win,
           CAST(sum_dec AS DOUBLE) / n_win AS roll_mean,
           CAST(v AS DOUBLE) - CAST(sum_dec AS DOUBLE) / n_win AS roll_dev,
           CASE WHEN n_win > 1 THEN
             (CAST(sumsq_dec AS DOUBLE) * n_win
              - CAST(sum_dec AS DOUBLE) * CAST(sum_dec AS DOUBLE))
             / (CAST(n_win AS DOUBLE) * (n_win - 1))
           END AS roll_var
    FROM s
    """,
)
def window_rolling_stats(spark: SparkSession, sf_dir: str):
    """Trailing-10-event mean/deviation/variance per user. The numerics
    pattern that survives cross-engine comparison: windowed sums accumulate
    in exact DECIMAL (order-independent), and only the final mean/variance
    arithmetic runs in double — every engine computes the same IEEE ops on
    the same operands. A rolling stddev built on double sums would drift
    with frame evaluation order."""
    e = t(spark, sf_dir, "events")
    v = dec("value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, 0)
    s = e.select(
        "user_id",
        "event_id",
        v.alias("v"),
        F.count("*").over(w).alias("n_win"),
        F.sum(v).over(w).alias("sum_dec"),
        F.sum(v * v).over(w).alias("sumsq_dec"),
    )
    n_d = F.col("n_win").cast("double")
    sum_d = dbl(F.col("sum_dec"))
    return s.select(
        "user_id",
        "event_id",
        "n_win",
        (sum_d / F.col("n_win")).alias("roll_mean"),
        (dbl(F.col("v")) - sum_d / F.col("n_win")).alias("roll_dev"),
        F.when(
            F.col("n_win") > 1,
            (dbl(F.col("sumsq_dec")) * F.col("n_win") - sum_d * sum_d)
            / (n_d * (F.col("n_win") - 1)),
        ).alias("roll_var"),
    )


# ---------------------------------------- scalar pandas UDF (vectorized)
@register(
    "pandas_scalar_net_price",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
           * (100 - CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT))
             AS net_c4
    FROM lineitem
    """,
)
def pandas_scalar_net_price(spark: SparkSession, sf_dir: str):
    """Scalar @pandas_udf (Arrow-vectorized, the fast Python-UDF path):
    net price in 10^-4-dollar integer units. Both prices and discounts are
    2-decimal-clean, so integer-cents arithmetic inside the UDF is exact
    and hash-identical to the oracle's DECIMAL expression — completing the
    UDF matrix (scalar here; grouped-map, grouped-agg, mapInPandas, UDTF,
    and stateful elsewhere)."""
    from ..operators.pandas_udfs import net_price_c4

    l = t(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        net_price_c4("l_extendedprice", "l_discount").alias("net_c4"),
    )


# ------------------------------------ grouped-agg pandas UDF (UDAF form)
@register(
    "pandas_udaf_weighted_price",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                    * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
           / (100.0 * SUM(CAST(round(l_quantity) AS BIGINT)))
             AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pandas_udaf_weighted_price(spark: SparkSession, sf_dir: str):
    """Grouped-aggregate @pandas_udf (custom UDAF): quantity-weighted mean
    price per return flag. Accumulation in exact int64 cents·units inside
    the UDF (quantities are integral), one double division at the end —
    same value the oracle's integer-sum SQL produces. Spark plans this as
    a real partial-less aggregate over Arrow batches."""
    from ..operators.pandas_udfs import weighted_avg_price

    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        weighted_avg_price("l_extendedprice", "l_quantity").alias("wavg_price")
    )


# ------------------------------------------- VariantType JSON handling
@register(
    "variant_json_ops",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.missing') AS INT) AS absent,
           CAST(json_extract_string(props, '$.k') AS INT) * 2 AS k_doubled
    FROM events
    """,
)
def variant_json_ops(spark: SparkSession, sf_dir: str):
    """Spark 4 VariantType path: parse_json once into a variant column,
    then typed try_variant_get extractions — the shredded-JSON layout that
    replaces per-access string re-parsing (at 100 TB, parsing props once
    instead of once per extraction is the difference). Missing paths
    yield NULL, matching the oracle's json_extract_string."""
    e = t(spark, sf_dir, "events")
    v = F.parse_json("props")
    src = e.select("event_id", v.alias("v"))
    k = F.try_variant_get("v", "$.k", "int")
    return src.select(
        "event_id",
        k.alias("k"),
        F.try_variant_get("v", "$.k", "string").alias("k_str"),
        F.try_variant_get("v", "$.missing", "int").alias("absent"),
        (k * 2).alias("k_doubled"),
    )


# --------------------------------- stream-stream OUTER interval join
@register(
    "stream_interval_outer_join",
    """
    WITH v AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT p.user_id AS p_user,
           p.event_id AS purchase_id,
           v.event_id AS view_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM p LEFT JOIN v
      ON v.user_id = p.user_id
         AND v.ts <= p.ts
         AND v.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_interval_outer_join(spark: SparkSession, sf_dir: str):
    """Stream-stream RIGHT OUTER interval join driven to full batch
    equivalence: purchases with no view in the preceding hour emit NULL
    view columns only once the watermark proves no match can arrive.

    Two replay subtleties make the exact oracle possible: (1) quartile
    files written in TIME order — the file source triggers by modification
    time, and an out-of-order old view would be dropped as late, turning
    its purchase legitimately-but-unhelpfully unmatched; (2) a sentinel
    event pair far past the corpus end advances both watermarks so every
    real row flushes from join state (streaming outer joins hold
    tail-of-timeline rows forever otherwise). The sentinel user is
    filtered from the output.

    The replay directory is FIXTURE construction (see
    streaming/events.py::build_time_ordered_replay — driver-paced by
    design, absent from any production path); the operator under test is
    the stream-stream outer interval join itself."""
    import tempfile

    from ..streaming.events import (
        build_time_ordered_replay,
        read_events_stream,
        run_stream_to_memory,
        view_purchase_interval_join,
    )

    e = t(spark, sf_dir, "events")
    replay = tempfile.mkdtemp(prefix="events_ss_outer_") + "/events"
    build_time_ordered_replay(e, replay, ts_col="ts", n_slices=4)
    # sentinel view+purchase 10 days past the end: advances both side's
    # watermarks far beyond horizon+delay, flushing all real state
    sentinel = e.agg(F.max("ts").alias("mx")).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(-1 - i).cast("long").alias("event_id"),
                        F.expr("mx + INTERVAL 10 DAYS").alias("ts"),
                        F.lit(-1).cast("long").alias("user_id"),
                        F.lit(typ).alias("event_type"),
                        F.lit(0.0).alias("value"),
                        F.lit("{}").alias("props"),
                    )
                    for i, typ in enumerate(["view", "purchase"])
                ]
            )
        ).alias("s")
    ).select("s.*")
    sentinel.coalesce(1).write.mode("append").parquet(replay)
    s = read_events_stream(spark, replay)
    joined = view_purchase_interval_join(
        s.filter(F.col("event_type") == "view"),
        s.filter(F.col("event_type") == "purchase"),
        how="right_outer",
    )
    _STATEFUL_SEQ[0] += 1
    name = f"ss_outer_{_STATEFUL_SEQ[0]}"
    # second sentinel after the first drain: the watermark-gated unmatched
    # emissions land in a real, awaited batch (see run_stream_to_memory)
    run_stream_to_memory(
        joined,
        name,
        mode="append",
        flush=lambda: sentinel.withColumn(
            "ts", F.expr("ts + INTERVAL 1 DAY")
        ).coalesce(1).write.mode("append").parquet(replay),
    )
    return spark.sql(f"SELECT * FROM {name}").filter(F.col("p_user") != -1)


# --------------------- custom stateful sessionizer (event-time timeout)
@register(
    "stateful_sessionizer_stream",
    f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - epoch_us(
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                  >= {SESSION_GAP_US} OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
      FROM gaps)
    SELECT user_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, session_id
    """,
)
def stateful_sessionizer_stream(spark: SparkSession, sf_dir: str):
    """Custom stateful sessionization (applyInPandasWithState +
    EVENT-TIME TIMEOUT) driven over a 4-slice time-ordered file replay to
    FULL batch equivalence: every emitted session — gap-closed sessions
    mid-stream, open sessions flushed when the watermark passes
    last_event + gap — must exactly equal the batch gaps-and-islands
    sessionization (the oracle), timestamps, counts and cent-exact values
    included. A sentinel far-future event advances the watermark so every
    real open session's timeout fires (Spark runs the no-data microbatch
    on watermark advance); the sentinel user is filtered from the output.

    This is the timeout-based state-expiry form the UDF matrix was
    missing: stateful_user_totals uses NoTimeout (state lives forever),
    the built-in session_window owns its own close policy — here the
    close is OURS, which is what per-session derived payloads or
    mid-session emission policies hang off in a real pipeline."""
    import tempfile

    from ..streaming.events import (
        build_time_ordered_replay,
        read_events_stream,
        run_stream_to_memory,
        stateful_sessions,
    )

    e = t(spark, sf_dir, "events")
    replay = tempfile.mkdtemp(prefix="events_sess_state_") + "/events"
    build_time_ordered_replay(e, replay, ts_col="ts", n_slices=4)
    sentinel = e.agg(F.max("ts").alias("mx")).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.expr("mx + INTERVAL 10 DAYS").alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(replay)
    s = read_events_stream(spark, replay)
    _STATEFUL_SEQ[0] += 1
    name = f"sess_state_{_STATEFUL_SEQ[0]}"
    # second sentinel after the first drain: every real user's open-session
    # event-time timeout fires inside a real, awaited batch (see
    # run_stream_to_memory — without it the flush races processAllAvailable
    # and the final session per user is nondeterministically dropped)
    run_stream_to_memory(
        stateful_sessions(s),
        name,
        mode="append",
        flush=lambda: sentinel.withColumn(
            "ts", F.expr("ts + INTERVAL 1 DAY")
        ).coalesce(1).write.mode("append").parquet(replay),
    )
    return spark.sql(f"SELECT * FROM {name}").filter(F.col("user_id") != -1)


# --------------------------- resample to hourly grid + forward fill
@register(
    "events_resample_ffill",
    """
    WITH samp AS (SELECT * FROM events WHERE user_id % 20 = 0),
    closes AS (
      SELECT user_id,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(value AS DECIMAL(12,2)) AS v,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM samp),
    last_close AS (SELECT user_id, hour, v FROM closes WHERE rn = 1),
    bounds AS (
      SELECT user_id,
             CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS d0,
             CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS d1
      FROM samp GROUP BY user_id),
    spine AS (
      SELECT user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 HOUR)) AS hour
      FROM bounds)
    SELECT s.user_id, s.hour,
           CAST(last_value(lc.v IGNORE NULLS) OVER (
                  PARTITION BY s.user_id ORDER BY s.hour
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS close_value,
           CASE WHEN lc.v IS NULL THEN 0 ELSE 1 END AS is_observed
    FROM spine s LEFT JOIN last_close lc USING (user_id, hour)
    """,
)
def events_resample_ffill(spark: SparkSession, sf_dir: str):
    """Irregular events resampled onto a REGULAR per-user hourly grid
    with forward-fill — the standard time-series preparation (as-of
    state at every grid point) that feature pipelines and monitoring
    dashboards run before any model sees the data. Hourly close = value
    of the LAST event in the hour (ties broken on event_id); silent
    hours inherit the previous close and are flagged is_observed=0.

    Scale shape: the spine is generated per user from that user's own
    bounds (sequence() — no calendar table, no global spine × users
    cross join). The raw events are scanned once; everything after the
    per-(user, hour) close pick operates on hour-granular rows, so the
    spine join and the user-partitioned fill window shuffle spine-sized
    data (hours × users), not event-sized. A 5% user sample
    (user_id % 20) bounds spine volume here; production would shard the
    same plan by user ranges. First grid hour is observed by
    construction, so the fill never has a leading NULL."""
    e = t(spark, sf_dir, "events")
    samp = e.filter(F.col("user_id") % 20 == 0)
    hour = F.date_trunc("hour", "ts")
    w_close = Window.partitionBy("user_id", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last_close = (
        samp.select(
            "user_id",
            hour.alias("hour"),
            dec("value").alias("v"),
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w_close))
        .filter(F.col("rn") == 1)
        .select("user_id", "hour", "v")
    )
    bounds = samp.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("d0"),
        F.date_trunc("hour", F.max("ts")).alias("d1"),
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour"
        ),
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(last_close, ["user_id", "hour"], "left")
        .withColumn(
            "close_value",
            F.last("v", ignorenulls=True).over(w_fill).cast("double"),
        )
        .withColumn(
            "is_observed", F.when(F.col("v").isNull(), 0).otherwise(1)
        )
        .select("user_id", "hour", "close_value", "is_observed")
    )
