"""Event-stream queries: windows, sessions, funnels, as-of joins, time series
and the streaming runners."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.operators.sampling import hash_split
from fashion_knowledge_graph_spark.operators.temporal import (
    asof_join, asof_join_cogroup, funnel, kaplan_meier, markov_transitions,
    position_attribution, range_join, session_bounds, session_paths,
    time_decay_agg,
)
from fashion_knowledge_graph_spark.registry import query, sql_of
from fashion_knowledge_graph_spark.registry.common import _load
from fashion_knowledge_graph_spark.streaming.incremental import (
    stream_cms_once, stream_dedup_once, stream_hll_once,
    stream_interval_join_once, stream_merge_once, stream_quality_filter_once,
    stream_sessionize_once, stream_static_enrich_once,
    stream_tumbling_agg_once,
)


@query(oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                 AS hour_start,
               event_type, count(*) AS n,
               round(sum(value::DECIMAL(18,6)), 4)::DOUBLE AS total_value
        FROM events GROUP BY 1, 2
    """, headline=True)
def events_tumbling_agg(spark, sf):
    ev = _load(spark, sf, "events")
    return (ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")),
                      "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
             .cast("double").alias("total_value")))


@query(oracle=lambda: sql_of("events_tumbling_agg"))
def stream_windowed_agg(spark, sf):
    # 2.I: the SAME tumbling-window aggregation run as a REAL
    # Structured Streaming query (file source → stateful agg →
    # complete-mode memory sink, availableNow) — stream ≡ batch by
    # construction, so the stateful streaming operator itself is
    # value-hash-checked against the relational oracle.
    return stream_tumbling_agg_once(
        spark, os.path.join(sf, "events.parquet"))


@query(oracle="""
        SELECT p.event_id AS purchase_id, v.event_id AS view_id,
               p.user_id, round(p.value, 6) AS purchase_value
        FROM events p JOIN events v
          ON p.event_type = 'purchase' AND v.event_type = 'view'
         AND p.user_id = v.user_id
         AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    """)
def stream_view_purchase_join(spark, sf):
    # stream-stream watermarked interval join (two file-source
    # streams → stateful join → append-mode memory sink): each
    # purchase attributed to same-user views within 1 h before
    # it. Lenient watermark in the runner ⇒ stream ≡ the batch
    # interval join, which the oracle replays directly.
    return stream_interval_join_once(
        spark, os.path.join(sf, "events.parquet"))


@query(oracle="""
        SELECT p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
               v.event_id AS asof_view_id,
               strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts >= v.ts
    """)
def asof_attribution(spark, sf):
    # distributed ASOF JOIN (union-tag + one window pass — Spark
    # has no native asof; the oracle uses DuckDB's real ASOF
    # JOIN): each purchase event attributed to the same user's
    # most recent at-or-before view event
    ev = _load(spark, sf, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", F.col("event_id").alias("view_id"))
    out = asof_join(purchases, views, by="user_id", ts="ts",
                    payload_cols=["view_id"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", fmt).alias("purchase_ts"),
        "asof_view_id",
        F.date_format("asof_ts", fmt).alias("view_ts"))


@query(oracle="""
        WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT s1.user_id, s1.t1, min(e.ts) AS t2
               FROM s1 LEFT JOIN events e
                 ON e.user_id = s1.user_id
                AND e.event_type = 'click' AND e.ts > s1.t1
               GROUP BY 1, 2),
        s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(e.ts) AS t3
               FROM s2 LEFT JOIN events e
                 ON e.user_id = s2.user_id
                AND e.event_type = 'purchase' AND e.ts > s2.t2
               GROUP BY 1, 2, 3)
        SELECT user_id,
               strftime(t1, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
               strftime(t2, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               strftime(t3, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        FROM s3
    """, headline=True)
def funnel_view_click_purchase(spark, sf):
    # ordered funnel (behavioral analytics): first view → first
    # click after it → first purchase after that, per user
    # (operators/temporal.py::funnel — co-partitioned left joins,
    # one shuffle key throughout)
    ev = _load(spark, sf, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    out = funnel(ev, ["view", "click", "purchase"])
    return out.select(
        "user_id",
        F.date_format("t1", fmt).alias("view_ts"),
        F.date_format("t2", fmt).alias("click_ts"),
        F.date_format("t3", fmt).alias("purchase_ts"))


@query(oracle=lambda: sql_of("asof_attribution"))
def asof_attribution_cogroup(spark, sf):
    # the SAME as-of semantics via the cogrouped-map API
    # (groupBy().cogroup().applyInPandas → per-key merge_asof):
    # one shuffle per side, pandas kernel per key — the wide-
    # payload variant of asof_join; identical result, same oracle
    ev = _load(spark, sf, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", F.col("event_id").alias("view_id"))
    out = asof_join_cogroup(purchases, views, by="user_id", ts="ts",
                            payload_cols=["view_id"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", fmt).alias("purchase_ts"),
        "asof_view_id",
        F.date_format("asof_ts", fmt).alias("view_ts"))


@query(oracle="""
        SELECT p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
               v.event_id AS in_range_view_id,
               strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
        FROM events p JOIN events v
          ON p.user_id = v.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND v.ts <= p.ts
         AND epoch_us(p.ts) - epoch_us(v.ts) <= 259200000000
    """)
def range_join_attribution(spark, sf):
    # banded range join (bucketed equi-join over time bins + exact
    # filter — no non-equi nested loop): every view within 3 days
    # before each purchase, same user
    ev = _load(spark, sf, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", F.col("event_id").alias("view_id"))
    out = range_join(purchases, views, by="user_id", ts="ts",
                     lookback="3 days", payload_cols=["view_id"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", fmt).alias("purchase_ts"),
        "in_range_view_id",
        F.date_format("in_range_ts", fmt).alias("view_ts"))


@query(oracle="""
        WITH g AS (
          SELECT user_id, ts,
                 lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts) AS prev_us
          FROM events),
        f AS (
          SELECT user_id, ts,
                 CASE WHEN prev_us IS NULL
                        OR epoch_us(ts) - prev_us > 14400000000
                      THEN 1 ELSE 0 END AS ns
          FROM g),
        s AS (
          SELECT user_id, ts,
                 (sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING))::BIGINT
                   AS session_idx
          FROM f)
        SELECT user_id, session_idx, count(*) AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM s GROUP BY 1, 2
    """)
def sessionize_events(spark, sf):
    # gap-based sessionization (lag + running sum over one
    # entity-keyed shuffle); 4h gap ⇒ multi-event sessions at the
    # fixture event rate
    return session_bounds(_load(spark, sf, "events"),
                          by="user_id", ts="ts", gap="4 hours")


# closed sessions = batch sessionization minus each user's final
# (still-open-in-state) session
@query(oracle=lambda: sql_of("sessionize_events") + """
        QUALIFY session_idx < max(session_idx) OVER (PARTITION BY user_id)
    """)
def stream_sessionize_closed(spark, sf):
    # custom stateful streaming operator (applyInPandasWithState):
    # per-user gap sessionization with O(1) state, append-mode
    # emission of CLOSED sessions. Over the fully drained static
    # source this equals batch sessionization minus each user's
    # final open session — the oracle replays exactly that.
    return stream_sessionize_once(
        spark, os.path.join(sf, "events.parquet"), gap="4 hours")


@query(oracle="""
        SELECT DISTINCT user_id, event_type FROM events
    """)
def stream_dedup_distinct(spark, sf):
    # Streaming dedup with bounded state
    # (dropDuplicatesWithinWatermark): over a drained static
    # source with a lenient watermark the emitted key set ≡ batch
    # SELECT DISTINCT by construction; the state-expiry semantics
    # (key re-emission after the watermark passes) are pinned in
    # tests/test_streaming.py.
    return stream_dedup_once(
        spark, os.path.join(sf, "events.parquet"))


@query(oracle="""
        SELECT event_id, user_id, event_type, value
        FROM (SELECT event_id, user_id, event_type, value,
                     row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY (event_id % 3) DESC, event_id DESC)
                       AS rn
              FROM events) z
        WHERE rn = 1
    """)
def stream_merge_upsert(spark, sf):
    # streaming MERGE INTO: 3 ordered micro-batches (event_id % 3,
    # mtimes forced increasing so the file source's batch order is
    # deterministic) upsert into a SnapshotTable keyed on
    # (user_id, event_type), latest event_id per key per batch
    # wins — final state = row ranked first by (batch, event_id)
    # desc, which is exactly what the oracle replays.
    src = tempfile.mkdtemp(prefix="fkg_smerge_src_")
    ev = _load(spark, sf, "events")
    for i in range(3):
        d = os.path.join(src, f"b{i}")
        ev.filter(F.col("event_id") % 3 == i).coalesce(1) \
            .write.mode("overwrite").parquet(d)
        for root_, _, files_ in os.walk(d):
            for fl in files_:
                os.utime(os.path.join(root_, fl),
                         (1_700_000_000 + i, 1_700_000_000 + i))
    return stream_merge_once(
        spark, src + "/*", tempfile.mkdtemp(prefix="fkg_smerge_t_"))


@query(oracle="""
        WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT s1.user_id, s1.t1, min(e.ts) AS t2
               FROM s1 LEFT JOIN events e
                 ON e.user_id = s1.user_id
                AND e.event_type = 'click' AND e.ts > s1.t1
               GROUP BY 1, 2),
        s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(e.ts) AS t3
               FROM s2 LEFT JOIN events e
                 ON e.user_id = s2.user_id
                AND e.event_type = 'purchase' AND e.ts > s2.t2
               GROUP BY 1, 2, 3)
        SELECT count(*) AS entered, count(t2) AS clicked,
               count(t3) AS purchased,
               round(count(t2) / count(*)::DOUBLE, 6) AS click_rate,
               CASE WHEN count(t2) > 0
                    THEN round(count(t3) / count(t2)::DOUBLE, 6)
               END AS purchase_rate
        FROM s3
    """)
def funnel_conversion_rates(spark, sf):
    # step-to-step conversion percentages over the funnel output —
    # the number a growth team actually reads
    ev = _load(spark, sf, "events")
    f = funnel(ev, ["view", "click", "purchase"])
    return f.agg(
        F.count(F.lit(1)).alias("entered"),
        F.count("t2").alias("clicked"),
        F.count("t3").alias("purchased"),
        F.round(F.count("t2") / F.count(F.lit(1)).cast("double"), 6)
        .alias("click_rate"),
        # nobody clicked ⇒ rate undefined (NULL), not an ANSI
        # DIVIDE_BY_ZERO crash
        F.round(F.when(F.count("t2") > 0,
                       F.count("t3") / F.count("t2").cast("double")),
                6).alias("purchase_rate"))


@query(oracle="""
        WITH asg AS (
          SELECT value,
                 CASE WHEN ('0x' || substr(md5('ab1:'
                        || user_id::VARCHAR), 1, 15))::BIGINT
                        < 576460752303423488
                      THEN 'control' ELSE 'treatment' END AS variant
          FROM events WHERE event_type = 'purchase'),
        per AS (
          SELECT variant, count(*) AS n, avg(value) AS mean,
                 var_samp(value) AS var
          FROM asg GROUP BY 1),
        c AS (SELECT n AS n_c, mean AS m_c, var AS v_c FROM per
              WHERE variant = 'control'),
        t AS (SELECT n AS n_t, mean AS m_t, var AS v_t FROM per
              WHERE variant = 'treatment')
        SELECT n_c, n_t,
               round(m_c, 6) AS mean_control,
               round(m_t, 6) AS mean_treatment,
               round(m_t - m_c, 6) AS lift,
               CASE WHEN sqrt(v_t / n_t + v_c / n_c) <> 0
                    THEN round((m_t - m_c)
                               / sqrt(v_t / n_t + v_c / n_c), 6)
               END AS z_stat
        FROM c, t
    """)
def ab_experiment_lift(spark, sf):
    # growth-analytics composition of the deterministic splitter:
    # users hash-assigned 50/50 to control/treatment (same
    # portable thresholds as domain_mix_split), per-variant
    # purchase-value mean + a pooled two-sample z statistic —
    # reproducible assignment is the entire point (rand() would
    # reassign users every run)
    ev = _load(spark, sf, "events") \
        .filter(F.col("event_type") == "purchase") \
        .select("user_id", "value")
    asg = hash_split(ev, "user_id", {"control": 0.5,
                                     "treatment": 0.5},
                     salt="ab1", split_col="variant")
    per = asg.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mean"),
        F.var_samp("value").alias("var"))
    c = per.filter(F.col("variant") == "control") \
        .select(F.col("n").alias("n_c"), F.col("mean").alias("m_c"),
                F.col("var").alias("v_c"))
    t = per.filter(F.col("variant") == "treatment") \
        .select(F.col("n").alias("n_t"), F.col("mean").alias("m_t"),
                F.col("var").alias("v_t"))
    j = c.crossJoin(t)
    se = F.sqrt(F.col("v_t") / F.col("n_t")
                + F.col("v_c") / F.col("n_c"))
    # degenerate slices (constant values) ⇒ se 0: z undefined
    # (NULL), not an ANSI DIVIDE_BY_ZERO crash
    z = F.when(se != 0, (F.col("m_t") - F.col("m_c")) / se)
    return j.select(
        "n_c", "n_t",
        F.round("m_c", 6).alias("mean_control"),
        F.round("m_t", 6).alias("mean_treatment"),
        F.round(F.col("m_t") - F.col("m_c"), 6).alias("lift"),
        F.round(z, 6).alias("z_stat"))


@query(oracle="""
        WITH daily AS (
          SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, event_type,
                 count(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT day, event_type, n,
               CASE WHEN stddev_pop(n) OVER (PARTITION BY event_type)
                         <> 0
                    THEN round((n - avg(n)
                                OVER (PARTITION BY event_type))
                         / stddev_pop(n)
                           OVER (PARTITION BY event_type), 6)
               END AS z
        FROM daily
    """)
def events_daily_anomaly(spark, sf):
    # ops-analytics anomaly scoring: per event_type daily counts
    # vs that type's own mean/stddev → z-score (population stddev
    # for portability); |z| flags volume anomalies
    ev = _load(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type") \
        .agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("event_type")
    sd = F.stddev_pop("n").over(wt)
    # constant daily counts ⇒ stddev 0: z is undefined (NULL), not
    # a DIVIDE_BY_ZERO crash under Spark's ANSI default
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type", "n",
        F.when(sd != 0,
               F.round((F.col("n") - F.avg("n").over(wt)) / sd, 6))
        .alias("z"))


@query(oracle="""
        WITH act AS (
          SELECT DISTINCT user_id,
                 date_diff('day', DATE '1970-01-01', ts::DATE) AS d_abs
          FROM events),
        firstd AS (SELECT user_id, min(d_abs) AS cohort_day
                   FROM act GROUP BY 1)
        SELECT f.cohort_day, a.d_abs - f.cohort_day AS days_since,
               count(DISTINCT a.user_id) AS active_users
        FROM act a JOIN firstd f USING (user_id)
        GROUP BY 1, 2
    """)
def events_cohort_retention(spark, sf):
    # cohort retention matrix: users grouped by first-activity
    # DAY (the corpus spans one month), distinct active users per
    # (cohort_day, days_since). Two user-keyed aggs + one join —
    # classic product analytics, every shuffle on user_id or the
    # (small) matrix key. Days as portable epoch-day integers.
    ev = _load(spark, sf, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"),
                   F.lit("1970-01-01").cast("date")).alias("d_abs"))
    act = ev.distinct()
    first = act.groupBy("user_id").agg(
        F.min("d_abs").alias("cohort_day"))
    return (act.join(first, "user_id")
            .groupBy("cohort_day",
                     (F.col("d_abs") - F.col("cohort_day"))
                     .alias("days_since"))
            .agg(F.countDistinct("user_id").alias("active_users")))


@query(oracle="""
        WITH e AS (SELECT user_id, ts,
                          CAST(value AS DECIMAL(18,6)) AS v,
                          epoch_us(ts) AS us
                   FROM events),
        lagd AS (SELECT *, lag(us) OVER (
                   PARTITION BY user_id ORDER BY us) AS prev_us
                 FROM e),
        marks AS (SELECT *,
                    CASE WHEN prev_us IS NULL
                           OR us - prev_us > 600000000
                         THEN 1 ELSE 0 END AS new_s
                  FROM lagd),
        sess AS (SELECT *, sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY us
                   ROWS UNBOUNDED PRECEDING) AS sid
                 FROM marks)
        SELECT user_id,
               min(us) AS start_us,
               max(us) + 600000000 AS end_us,
               count(*) AS n_events,
               round(CAST(sum(v) AS DOUBLE), 4) AS total_value
        FROM sess GROUP BY user_id, sid
    """)
def events_session_window(spark, sf):
    # Spark's native dynamic-gap session windows in BATCH mode
    # (F.session_window, 10-min gap): per-user sessions merge
    # while events arrive within the gap — the built-in operator
    # surface next to the applyInPandasWithState streaming
    # sessionizer; bounds exported as epoch-µs BIGINTs, value
    # summed as DECIMAL (order-free)
    ev = _load(spark, sf, "events")
    return (ev.groupBy(
        "user_id",
        F.session_window(F.col("ts"), "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,6)"))
             .cast("double").alias("total_value"))
        .select("user_id",
                F.unix_micros(F.col("w.start").cast("timestamp"))
                .alias("start_us"),
                F.unix_micros(F.col("w.end").cast("timestamp"))
                .alias("end_us"),
                "n_events",
                F.round("total_value", 4).alias("total_value")))


@query(oracle="""
        WITH conv AS (SELECT user_id AS e, event_id AS conv_id,
                             ts AS conv_ts
                      FROM events WHERE event_type = 'purchase'),
        touch AS (SELECT user_id AS e, event_id AS touch_id,
                         ts AS touch_ts
                  FROM events WHERE event_type = 'view'),
        j AS (SELECT c.conv_id, t.touch_id, t.touch_ts
              FROM conv c JOIN touch t
                ON t.e = c.e AND t.touch_ts < c.conv_ts),
        ranked AS (
          SELECT conv_id, touch_id,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY touch_ts, touch_id)
                   AS position,
                 count(*) OVER (PARTITION BY conv_id) AS n_touches
          FROM j)
        SELECT conv_id, touch_id,
               CAST(position AS INT) AS position,
               CAST(n_touches AS BIGINT) AS n_touches,
               round(CASE WHEN n_touches = 1 THEN 1.0
                          WHEN n_touches = 2 THEN 0.5
                          WHEN position = 1 THEN 0.4
                          WHEN position = n_touches THEN 0.4
                          ELSE 0.2 / (n_touches - 2) END, 6)
                 AS credit
        FROM ranked
    """)
def attribution_position(spark, sf):
    # U-shaped multi-touch attribution (40/20/40): each purchase
    # splits 1.0 of credit across its prior views — first and
    # last touch 0.4 each, middles share 0.2; the relational form
    # shuffles ONCE on user_id and the rank window reuses that
    # partitioning (operators/temporal.py::position_attribution)
    return position_attribution(_load(spark, sf, "events"))


# Markov transition matrix: lead window + row-normalized counts
@query(oracle="""
        WITH pairs AS (
          SELECT event_type AS from_state,
                 lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_state
          FROM events),
        counts AS (SELECT from_state, to_state, count(*) AS n
                   FROM pairs WHERE to_state IS NOT NULL
                   GROUP BY 1, 2)
        SELECT from_state, to_state, n,
               round(n::DOUBLE / sum(n) OVER (
                 PARTITION BY from_state), 6) AS p
        FROM counts
    """)
def events_markov_transitions(spark, sf):
    # first-order Markov transition matrix over per-user event
    # sequences: one lead window on the engine-wide (ts,
    # event_id) total order + row-normalized counts — the
    # next-action sequence-model feature
    # (operators/temporal.py::markov_transitions)
    t = markov_transitions(_load(spark, sf, "events"))
    return t.select("from_state", "to_state", "n",
                    F.round("p", 6).alias("p"))


# time-decayed engagement: integer day diff vs the fixed ref date
@query(oracle="""
        SELECT user_id, count(*) AS n_events,
               round(sum(value * pow(0.95,
                 CAST(date_diff('day', CAST(ts AS DATE),
                                DATE '2024-02-01') AS DOUBLE))), 6)
                 AS decayed_value
        FROM events GROUP BY 1
    """)
def events_time_decay(spark, sf):
    # exponentially time-decayed engagement per user (0.95/day
    # against a FIXED reference date — reproducible feature
    # snapshots, never now()): pure codegen projection + one
    # partial-agg'd groupBy
    # (operators/temporal.py::time_decay_agg)
    return time_decay_agg(_load(spark, sf, "events"))


# session paths: the sessionize_events 4h-gap CTEs + first-5-step
# string_agg journeys, counted and ranked
@query(oracle="""
        WITH g AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts) AS prev_us
          FROM events),
        f AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN prev_us IS NULL
                        OR epoch_us(ts) - prev_us > 14400000000
                      THEN 1 ELSE 0 END AS ns
          FROM g),
        s AS (
          SELECT user_id, ts, event_id, event_type,
                 (sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING))::BIGINT
                   AS session_idx
          FROM f),
        steps AS (
          SELECT user_id, session_idx, event_type,
                 row_number() OVER (PARTITION BY user_id, session_idx
                   ORDER BY ts, event_id) AS step
          FROM s),
        paths AS (
          SELECT user_id, session_idx,
                 string_agg(event_type, '>' ORDER BY step) AS path
          FROM steps WHERE step <= 5 GROUP BY 1, 2),
        counted AS (
          SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1)
        SELECT path, n_sessions,
               row_number() OVER (ORDER BY n_sessions DESC, path ASC)
                 AS rank
        FROM counted
        QUALIFY rank <= 20
    """)
def events_session_paths(spark, sf):
    # top-20 session journeys: 4-hour-gap sessionization (the
    # sessionize_events contract), first-5-step paths joined as
    # arrow strings, counted — whole-journey mining vs
    # markov_transitions' single steps
    # (operators/temporal.py::session_paths)
    return session_paths(_load(spark, sf, "events"),
                         gap="4 hours", max_steps=5, top=20)


# streaming CMS: unigram tokens, width 16 (31-word vocab ⇒ real
# collisions), same 60-bit lane — the drained complete-mode state
# equals this batch replay exactly
@query(oracle="""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS term
          FROM documents WHERE text IS NOT NULL),
        toks2 AS (SELECT term FROM toks
                  WHERE term <> '' AND term IS NOT NULL),
        depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
        cells AS (
          SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                        || term), 1, 15))::BIGINT
                      % 16 AS bucket
          FROM toks2, depths),
        bucket_counts AS (
          SELECT d, bucket, count(*) AS bucket_n
          FROM cells GROUP BY 1, 2),
        exact AS (SELECT term, count(*) AS n_exact
                  FROM toks2 GROUP BY 1),
        probes AS (
          SELECT term, d,
                 ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                     || term), 1, 15))::BIGINT
                   % 16 AS bucket
          FROM exact, depths),
        est AS (SELECT term, min(bucket_n) AS n_cms
                FROM probes JOIN bucket_counts USING (d, bucket)
                GROUP BY term)
        SELECT term, n_exact, n_cms FROM exact JOIN est USING (term)
    """)
def stream_cms_heavy_hitters(spark, sf):
    # 2.I × sketches: count-min bucket table maintained as REAL
    # Structured Streaming state (d·w cells FOREVER vs unbounded
    # per-term state; complete mode ⇒ stream ≡ batch, so the
    # sketch arithmetic is value-hash-checked), estimates joined
    # against batch exact counts
    # (streaming/incremental.py::stream_cms_once)
    return stream_cms_once(
        spark, os.path.join(sf, "documents.parquet"),
        depth=4, width=16)


# date spine: generate_series ≡ F.sequence; zero days kept
@query(oracle="""
        WITH spine AS (
          SELECT unnest(generate_series(DATE '2024-01-01',
                                        DATE '2024-01-31',
                                        INTERVAL 1 DAY))::DATE AS day),
        daily AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS n
          FROM events GROUP BY 1)
        SELECT strftime(spine.day, '%Y-%m-%d') AS day,
               CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events,
               coalesce(daily.n, 0) = 0 AS is_gap
        FROM spine LEFT JOIN daily USING (day)
    """)
def events_date_spine_gaps(spark, sf):
    # date-spine anti-pattern killer: generate the full Jan-2024
    # day spine (F.sequence — no source table needed), left-join
    # daily event counts, return EVERY day with its count incl.
    # zero-activity days (the rows a plain groupBy silently
    # drops); at scale the spine is dim-sized and broadcasts
    spine = spark.range(1).select(
        F.explode(F.sequence(
            F.lit("2024-01-01").cast("date"),
            F.lit("2024-01-31").cast("date"))).alias("day"))
    ev = _load(spark, sf, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")) \
        .agg(F.count(F.lit(1)).alias("n"))
    return (spine.join(daily, "day", "left")
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
                    (F.coalesce(F.col("n"), F.lit(0)) == 0)
                    .alias("is_gap")))


@query(oracle="""
        SELECT strftime(date_trunc('hour', ts)
                          - i * INTERVAL 1 HOUR,
                        '%Y-%m-%d %H:%M:%S') AS win_start,
               event_type, count(*) AS n,
               round(sum(value::DECIMAL(18,6)), 4)::DOUBLE
                 AS total_value
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) o
        GROUP BY 1, 2
    """)
def events_hopping_agg(spark, sf):
    # Hopping (sliding) window aggregation: 2-hour windows every
    # 1 hour — each event lands in exactly two overlapping
    # windows. Spark's window(ts, width, slide) generates the
    # window set JVM-side (no explode UDF); at 100 TB this is a
    # single map-side fan-out of width/slide rows per event into
    # a partial-aggregating groupBy.
    ev = _load(spark, sf, "events")
    return (ev.groupBy(
        F.window("ts", "2 hours", "1 hour").alias("w"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(F.col("value").cast("decimal(18,6)")),
                     4).cast("double").alias("total_value"))
        .select(F.date_format(F.col("w.start"),
                              "yyyy-MM-dd HH:mm:ss")
                .alias("win_start"),
                "event_type", "n", "total_value"))


@query(oracle="""
        WITH med AS (SELECT event_type,
                            quantile_cont(value, 0.5) AS med
                     FROM events GROUP BY 1),
        dev AS (SELECT e.event_id, e.event_type, e.value,
                       abs(e.value - m.med) AS adev
                FROM events e JOIN med m USING (event_type)),
        mad AS (SELECT event_type,
                       quantile_cont(adev, 0.5) AS mad
                FROM dev GROUP BY 1)
        SELECT d.event_id, d.event_type,
               round(d.value, 2) AS value,
               round(d.adev / (1.4826 * m.mad), 4) AS robust_z
        FROM dev d JOIN mad m USING (event_type)
        WHERE d.adev > 3 * 1.4826 * m.mad
    """)
def events_mad_outliers(spark, sf):
    # Robust outlier detection: per-type median + MAD (both EXACT
    # interpolated percentiles, the parity-proven
    # percentile ≡ quantile_cont lane), flag |x−med| > 3·1.4826·MAD.
    # Two dim-sized per-type stat rows broadcast back onto the
    # stream — the robust twin of events_daily_anomaly's
    # mean/stddev z-score (median tolerates the very outliers
    # stddev absorbs)
    ev = _load(spark, sf, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    dev = (ev.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("value")
                                     - F.col("med"))))
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad"))
    return (dev.join(F.broadcast(mad), "event_type")
            .filter(F.col("adev")
                    > 3 * 1.4826 * F.col("mad"))
            .select("event_id", "event_type",
                    F.round("value", 2).alias("value"),
                    F.round(F.col("adev")
                            / (F.lit(1.4826) * F.col("mad")),
                            4).alias("robust_z")))


@query(oracle="""
        WITH d AS (SELECT user_id,
                          epoch_us(ts) // 86400000000 AS day
                   FROM events),
        pu AS (SELECT user_id, min(day) AS d0, max(day) AS d1
               FROM d GROUP BY 1),
        g AS (SELECT max(d1) AS gmax FROM pu),
        dur AS (SELECT (d1 - d0) AS t,
                       (d1 < gmax) AS observed
                FROM pu CROSS JOIN g),
        byt AS (SELECT t, count(*) AS n_at,
                       sum(CASE WHEN observed THEN 1 ELSE 0 END)
                         AS d_events
                FROM dur GROUP BY 1),
        r AS (SELECT *, sum(n_at) OVER (ORDER BY t DESC
                ROWS UNBOUNDED PRECEDING) AS n_risk FROM byt),
        s AS (SELECT *,
                max(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END)
                  OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING)
                  AS dead,
                exp(sum(CASE WHEN d_events > 0
                             AND d_events < n_risk
                             THEN ln((n_risk - d_events) / n_risk)
                             ELSE 0 END)
                    OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING))
                  AS surv
              FROM r)
        SELECT CAST(t AS BIGINT) AS t,
               CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d_events AS BIGINT) AS d_events,
               round(CASE WHEN dead = 1 THEN 0.0 ELSE surv END, 6)
                 AS survival
        FROM s WHERE d_events > 0
    """, waive=("KM estimator input = distinct-duration rollup "
              "(day-range-bounded vocabulary)"))
def events_survival_km(spark, sf):
    # Kaplan–Meier time-to-churn curve: per-user activity span in
    # epoch days (exact integers), churn observed when the last
    # event predates the corpus horizon day (the user went quiet
    # before the data ends), else right-censored — still active
    # at the horizon; the estimator itself runs on the
    # distinct-durations rollup (operators/temporal.py::
    # kaplan_meier — running ln-sum product, absorbing zero when
    # a risk set fully churns)
    ev = _load(spark, sf, "events")
    day = F.expr(
        "unix_micros(cast(ts as timestamp)) div 86400000000")
    pu = (ev.select("user_id", day.alias("day"))
          .groupBy("user_id")
          .agg(F.min("day").alias("d0"), F.max("day").alias("d1")))
    gmax = pu.agg(F.max("d1").alias("gmax"))
    dur = (pu.crossJoin(F.broadcast(gmax))
           .select((F.col("d1") - F.col("d0")).alias("t"),
                   (F.col("d1") < F.col("gmax"))
                   .alias("observed")))
    return kaplan_meier(dur)


@query(oracle="""
        WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id
                    FROM events),
        days AS (SELECT DISTINCT day FROM du),
        fan AS (SELECT day + i::INT AS wday, user_id
                FROM du, unnest(generate_series(0, 6)) t(i))
        SELECT strftime(d.day, '%Y-%m-%d') AS day,
               count(DISTINCT f.user_id) AS users_7d
        FROM days d JOIN fan f ON f.wday = d.day
        GROUP BY 1
    """)
def events_rolling_distinct_users(spark, sf):
    # exact sliding-window COUNT DISTINCT (7-day active users):
    # the fan-out form — each (day, user) contributes itself to
    # the 7 windows it falls in (sequence+explode, map-side), then
    # one groupBy(window_day) distinct count. This is the shape
    # that scales: no per-day user arrays in window state, no
    # quadratic self-join; restricted to days that actually occur.
    ev = _load(spark, sf, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id") \
        .distinct()
    days = du.select("day").distinct()
    fan = du.select(
        F.explode(F.sequence("day", F.date_add("day", 6)))
        .alias("wday"), "user_id")
    return (fan.join(days, fan.wday == days.day, "left_semi")
            .groupBy("wday")
            .agg(F.countDistinct("user_id").alias("users_7d"))
            .select(F.date_format("wday", "yyyy-MM-dd")
                    .alias("day"), "users_7d"))


@query(oracle="""
        WITH daily AS (SELECT event_type, ts::DATE AS d, count(*) AS n
                       FROM events GROUP BY 1, 2)
        SELECT a.event_type, strftime(a.d, '%Y-%m-%d') AS day,
               round(sum(pow(0.7, (a.d - b.d)) * b.n)
                     / sum(pow(0.7, (a.d - b.d))), 6) AS ewma
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type
         AND a.d - b.d BETWEEN 0 AND 13
        GROUP BY a.event_type, a.d
    """)
def events_ewma_smooth(spark, sf):
    # truncated exponentially-weighted moving average of the
    # daily volume per event type (pandas ewm(adjust=True) shape,
    # window 14, α=0.3): the rollup is the only corpus-sized pass;
    # smoothing is a banded self-join on datediff ∈ [0,13] over
    # the ~|days|·|types| daily table with closed-form weights
    # pow(0.7, lag) — no recursion, no window state
    ev = _load(spark, sf, "events")
    daily = ev.groupBy("event_type",
                       F.to_date("ts").alias("d")) \
        .agg(F.count(F.lit(1)).alias("n"))
    a = daily.select("event_type", F.col("d").alias("da"))
    b = daily.select(F.col("event_type").alias("et2"),
                     F.col("d").alias("db"), "n")
    lag = F.datediff("da", "db")
    w = F.pow(F.lit(0.7), lag)
    return (a.join(b, (a.event_type == b.et2)
                   & (lag >= 0) & (lag <= 13))
            .groupBy("event_type", "da")
            .agg(F.round(F.sum(w * F.col("n")) / F.sum(w), 6)
                 .alias("ewma"))
            .select("event_type",
                    F.date_format("da", "yyyy-MM-dd").alias("day"),
                    "ewma"))


@query(oracle="""
        WITH daily AS (SELECT event_type, ts::DATE AS d, count(*) AS n
                       FROM events GROUP BY 1, 2),
        stats AS (SELECT event_type, avg(n) AS mu,
                         stddev_pop(n) AS sd
                  FROM daily GROUP BY 1),
        j AS (SELECT daily.event_type, d, n, mu, sd,
                sum(n - mu - 0.5 * sd) OVER (
                  PARTITION BY daily.event_type ORDER BY d
                  ROWS UNBOUNDED PRECEDING) AS cs
              FROM daily JOIN stats USING (event_type)),
        k AS (SELECT *, min(least(cs, 0)) OVER (
                PARTITION BY event_type ORDER BY d
                ROWS UNBOUNDED PRECEDING) AS smin
              FROM j)
        SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
               round(cs - smin, 6) AS cusum,
               (cs - smin) > 3.0 * sd AS drift
        FROM k
    """)
def events_cusum_changepoint(spark, sf):
    # one-sided CUSUM change-point statistic over daily volumes:
    # S_d = max_{k≤d} Σ_{i=k..d}(x_i − mean − slack) computed in
    # CLOSED FORM as cumsum_d − min(0, running-min of cumsum) —
    # two windows over one per-type partitioning, no recursion.
    # Flags days where the drift statistic exceeds h = 3·stddev.
    ev = _load(spark, sf, "events")
    daily = ev.groupBy("event_type",
                       F.to_date("ts").alias("d")) \
        .agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sd"))
    wrun = Window.partitionBy("event_type").orderBy("d") \
        .rowsBetween(Window.unboundedPreceding, 0)
    y = F.col("n") - F.col("mu") - 0.5 * F.col("sd")
    cs = F.sum(y).over(wrun)
    joined = daily.join(F.broadcast(stats), "event_type") \
        .withColumn("cs", cs)
    smin = F.min(F.least(F.col("cs"), F.lit(0.0))).over(wrun)
    stat = F.col("cs") - smin
    return (joined.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(stat, 6).alias("cusum"),
        (stat > 3.0 * F.col("sd")).alias("drift")))


@query(oracle="""
        WITH pts AS (
          SELECT event_type, floor(epoch(ts))::BIGINT AS t, 1 AS d
          FROM events
          UNION ALL
          SELECT event_type,
                 floor(epoch(ts))::BIGINT + floor(value)::BIGINT, -1
          FROM events),
        run AS (SELECT event_type, t, d,
                       sum(d) OVER (PARTITION BY event_type
                                    ORDER BY t, d
                                    ROWS UNBOUNDED PRECEDING)
                         AS conc
                FROM pts)
        SELECT event_type, conc::BIGINT AS peak_concurrency,
               strftime(to_timestamp(t), '%Y-%m-%d %H:%M:%S')
                 AS peak_at
        FROM (SELECT *, row_number() OVER (
                PARTITION BY event_type
                ORDER BY conc DESC, t ASC) AS rn
              FROM run) z
        WHERE rn = 1
    """)
def events_peak_concurrency(spark, sf):
    # peak concurrency: the classic ±1 boundary sweep — each
    # activity interval [ts, ts+⌊value⌋s) emits (+1 at start, −1
    # at end), ends sort before starts at the same instant (half-
    # open semantics), running sum per type, argmax with
    # deterministic ties; exact integer epochs end to end
    ev = _load(spark, sf, "events")
    st = F.unix_timestamp("ts")
    en = st + F.floor("value").cast("long")
    pts = ev.select("event_type", st.alias("t"),
                    F.lit(1).alias("d"))             .unionByName(ev.select("event_type", en.alias("t"),
                               F.lit(-1).alias("d")))
    w = Window.partitionBy("event_type").orderBy("t", "d")             .rowsBetween(Window.unboundedPreceding, 0)
    run = pts.withColumn("conc", F.sum("d").over(w))
    wm = Window.partitionBy("event_type").orderBy(
        F.desc("conc"), F.asc("t"))
    return (run.withColumn("rn", F.row_number().over(wm))
            .filter(F.col("rn") == 1)
            .select("event_type",
                    F.col("conc").alias("peak_concurrency"),
                    F.from_unixtime("t", "yyyy-MM-dd HH:mm:ss")
                    .alias("peak_at")))


@query(oracle="""
        WITH g AS (
          SELECT event_type, ts,
                 floor(epoch(ts))::BIGINT
                 - floor(epoch(lag(ts) OVER (
                     PARTITION BY event_type
                     ORDER BY ts, event_id)))::BIGINT AS gap
          FROM events),
        gg AS (SELECT * FROM g WHERE gap IS NOT NULL)
        SELECT event_type, gap AS max_gap_s,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS gap_end
        FROM (SELECT *, row_number() OVER (
                PARTITION BY event_type
                ORDER BY gap DESC, ts ASC) AS rn
              FROM gg) z
        WHERE rn = 1
    """)
def events_max_silence(spark, sf):
    # ops/SLA view: the longest silent gap per event type (lag
    # window on integer epoch seconds, exact), with when it
    # happened — the "did the pipeline stall" primitive
    ev = _load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type", "ts",
        (F.unix_timestamp("ts")
         - F.unix_timestamp(F.lag("ts").over(w))).alias("gap"))
    gaps = g.filter(F.col("gap").isNotNull())
    wm = Window.partitionBy("event_type").orderBy(
        F.desc("gap"), F.asc("ts"))
    return (gaps.withColumn("rn", F.row_number().over(wm))
            .filter(F.col("rn") == 1)
            .select("event_type", F.col("gap").alias("max_gap_s"),
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("gap_end")))


@query(oracle="""
        WITH dow AS (SELECT dayofweek(ts) + 1 AS dow, count(*) AS n
                     FROM events GROUP BY 1),
        tot AS (SELECT sum(n)::BIGINT AS t, count(*) AS k FROM dow),
        chi AS (SELECT round(sum((n - t::DOUBLE / k)
                                 * (n - t::DOUBLE / k)
                                 / (t::DOUBLE / k)), 6) AS c
                FROM dow, tot)
        SELECT dow.dow, dow.n,
               round(dow.n / (tot.t::DOUBLE / tot.k), 6) AS idx,
               chi.c AS chi2_uniformity
        FROM dow, tot, chi
    """)
def events_dow_seasonality(spark, sf):
    # weekly seasonality: day-of-week volume profile + the
    # chi-square uniformity statistic (expected = n/7, exact
    # integer counts inside the ratio)
    ev = _load(spark, sf, "events")
    dow = ev.groupBy(F.dayofweek("ts").alias("dow"))             .agg(F.count(F.lit(1)).alias("n"))
    tot = dow.agg(F.sum("n").alias("t"),
                  F.count(F.lit(1)).alias("k"))
    j = dow.crossJoin(F.broadcast(tot))
    exp = F.col("t").cast("double") / F.col("k")
    chi = F.sum((F.col("n") - exp) * (F.col("n") - exp) / exp)
    prof = j.groupBy("t", "k").agg(
        F.round(chi, 6).alias("chi2_uniformity"))
    return (j.select("dow", "n",
                     F.round(F.col("n") / exp, 6).alias("idx"))
            .crossJoin(F.broadcast(
                prof.select("chi2_uniformity"))))


@query(oracle="""
        WITH daily AS (SELECT event_type, ts::DATE AS d, count(*) AS n
                       FROM events GROUP BY 1, 2),
        days AS (SELECT DISTINCT event_type, d FROM daily),
        fan AS (SELECT event_type, n, d + i::INT AS wd
                FROM daily, unnest(generate_series(0, 6)) t(i))
        SELECT f.event_type, strftime(f.wd, '%Y-%m-%d') AS day,
               round(quantile_cont(f.n, 0.5), 4) AS med7
        FROM fan f JOIN days dy
          ON dy.event_type = f.event_type AND dy.d = f.wd
        GROUP BY 1, 2
    """)
def events_moving_median(spark, sf):
    # robust trailing-7-day median of daily volume per type — the
    # outlier-immune twin of events_ewma_smooth: daily rollup,
    # fan-out into trailing windows (map-side), EXACT percentile
    # per ≤7-row group (both engines interpolate (n+1)/2 the same
    # way on integer counts); only days that exist report
    ev = _load(spark, sf, "events")
    daily = ev.groupBy("event_type",
                       F.to_date("ts").alias("d"))             .agg(F.count(F.lit(1)).alias("n"))
    days = daily.select("event_type",
                        F.col("d").alias("dd")).distinct()
    fan = daily.select(
        "event_type", "n",
        F.explode(F.sequence("d", F.date_add("d", 6)))
        .alias("wd"))
    j = fan.join(days,
                 (fan.event_type == days.event_type)
                 & (fan.wd == days.dd), "left_semi")
    return (j.groupBy("event_type", "wd")
            .agg(F.round(F.expr("percentile(n, 0.5)"), 4)
                 .alias("med7"))
            .select("event_type",
                    F.date_format("wd", "yyyy-MM-dd")
                    .alias("day"), "med7"))


@query(oracle="""
        WITH g AS (
          SELECT o_custkey,
                 o_orderdate::DATE - lag(o_orderdate::DATE) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS gap
          FROM orders),
        gg AS (SELECT o_custkey, gap FROM g WHERE gap IS NOT NULL)
        SELECT c.c_mktsegment, count(*) AS n_gaps,
               round(avg(gap), 6) AS mean_gap_days,
               round(quantile_cont(gap, 0.5), 4) AS median_gap_days,
               max(gap) AS max_gap_days
        FROM gg JOIN customer c ON gg.o_custkey = c.c_custkey
        GROUP BY 1
    """)
def orders_interarrival(spark, sf):
    # demand periodicity: per-customer order inter-arrival gaps
    # (lag window on integer dates — exact day counts), rolled up
    # to per-segment mean/median/max via one broadcast dim join
    orders = _load(spark, sf, "orders")
    cust = _load(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff("o_orderdate",
                   F.lag("o_orderdate").over(w)).alias("gap"))             .filter(F.col("gap").isNotNull())
    return (gaps.join(F.broadcast(cust), "o_custkey")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 F.round(F.avg("gap"), 6).alias("mean_gap_days"),
                 F.round(F.expr("percentile(gap, 0.5)"), 4)
                 .alias("median_gap_days"),
                 F.max("gap").alias("max_gap_days")))


@query(oracle="""
        WITH f AS (SELECT o_custkey,
                          min(date_trunc('month', o_orderdate))
                            AS cohort
                   FROM orders GROUP BY 1),
        j AS (SELECT o.o_custkey, f.cohort,
                     date_diff('month', f.cohort,
                               date_trunc('month', o.o_orderdate))
                       ::INT AS age,
                     o.o_totalprice::DECIMAL(18,2) AS rev
              FROM orders o JOIN f USING (o_custkey)),
        sizes AS (SELECT cohort, count(DISTINCT o_custkey) AS n_cust
                  FROM f GROUP BY 1),
        curve AS (SELECT cohort, age, sum(rev) AS rev
                  FROM j GROUP BY 1, 2),
        cum AS (SELECT cohort, age, sum(rev) OVER (
                  PARTITION BY cohort ORDER BY age
                  ROWS UNBOUNDED PRECEDING) AS cum
                FROM curve)
        SELECT strftime(c.cohort, '%Y-%m') AS cohort, c.age,
               s.n_cust,
               round(c.cum::DOUBLE / s.n_cust, 6)
                 AS ltv_per_customer
        FROM cum c JOIN sizes s USING (cohort)
    """)
def orders_cohort_ltv(spark, sf):
    # finance view of cohorting: cumulative revenue per customer
    # (LTV curve) by cohort month × age — first-order cohort, one
    # rollup on (cohort, age), a running sum over the tiny curve
    # table; exact DECIMAL revenue, month arithmetic on truncated
    # dates so both engines count whole months identically
    orders = _load(spark, sf, "orders")
    m = F.trunc("o_orderdate", "month")
    first = orders.groupBy("o_custkey").agg(
        F.min(m).alias("cohort"))
    j = orders.join(first, "o_custkey").select(
        "o_custkey", F.col("cohort"),
        F.months_between(m, F.col("cohort")).cast("int")
        .alias("age"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"))
    sizes = first.groupBy("cohort").agg(
        F.countDistinct("o_custkey").alias("n_cust"))
    curve = j.groupBy("cohort", "age").agg(
        F.sum("rev").alias("rev"))
    wc = Window.partitionBy("cohort").orderBy("age")             .rowsBetween(Window.unboundedPreceding, 0)
    return (curve.withColumn("cum", F.sum("rev").over(wc))
            .join(F.broadcast(sizes), "cohort")
            .select(F.date_format("cohort", "yyyy-MM")
                    .alias("cohort"), "age", "n_cust",
                    F.round(F.col("cum").cast("double")
                            / F.col("n_cust"), 6)
                    .alias("ltv_per_customer")))


@query(oracle="""
        WITH c AS (SELECT user_id, event_type, count(*) AS n
                   FROM events GROUP BY 1, 2),
        t AS (SELECT user_id, sum(n)::BIGINT AS tot
              FROM c GROUP BY 1)
        SELECT user_id,
               round(-sum((n::DOUBLE / tot) * ln(n::DOUBLE / tot)),
                     6) AS entropy,
               count(*) AS n_types
        FROM c JOIN t USING (user_id)
        GROUP BY user_id
        ORDER BY entropy DESC, user_id ASC LIMIT 20
    """)
def events_user_entropy(spark, sf):
    # behavioral diversity: Shannon entropy of each user's
    # event-type distribution — exact integer count ratios inside
    # every ln, one rollup + one per-user aggregation; top-20 most
    # diverse users, ties on user_id
    ev = _load(spark, sf, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    ent = c.join(t, "user_id").groupBy("user_id").agg(
        F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        F.count(F.lit(1)).alias("n_types"))
    return ent.orderBy(F.desc("entropy"), F.asc("user_id"))             .limit(20)


@query(oracle="""
        WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id
                    FROM events),
        days AS (SELECT DISTINCT day FROM du),
        fan AS (SELECT day + i::INT AS wday, day, user_id
                FROM du, unnest(generate_series(0, 6)) t(i)),
        agg AS (SELECT wday,
                       count(DISTINCT user_id) AS wau,
                       count(DISTINCT CASE WHEN day = wday
                                           THEN user_id END) AS dau
                FROM fan
                WHERE wday IN (SELECT day FROM days)
                GROUP BY 1)
        SELECT strftime(wday, '%Y-%m-%d') AS day, dau, wau,
               round(dau::DOUBLE / wau, 6) AS stickiness
        FROM agg
    """)
def events_stickiness(spark, sf):
    # product-analytics stickiness: DAU / trailing-7-day WAU per
    # day — BOTH distinct counts from one fan-out pass (lag 0 =
    # the DAU window), ratio on exact integers
    ev = _load(spark, sf, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id")             .distinct()
    days = du.select(F.col("day").alias("dday")).distinct()
    fan = du.select(
        F.explode(F.sequence("day", F.date_add("day", 6)))
        .alias("wday"), "day", "user_id")
    agg = (fan.join(days, fan.wday == days.dday, "left_semi")
           .groupBy("wday")
           .agg(F.countDistinct("user_id").alias("wau"),
                F.countDistinct(
                    F.when(F.col("day") == F.col("wday"),
                           F.col("user_id"))).alias("dau")))
    return agg.select(
        F.date_format("wday", "yyyy-MM-dd").alias("day"),
        "dau", "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6)
        .alias("stickiness"))


@query(oracle="""
        WITH daily AS (SELECT event_type, ts::DATE AS d,
                              count(*) AS n
                       FROM events GROUP BY 1, 2),
        lagged AS (SELECT event_type, d, n,
                          lag(n) OVER (PARTITION BY event_type
                                       ORDER BY d) AS pn,
                          lag(d) OVER (PARTITION BY event_type
                                       ORDER BY d) AS pd
                   FROM daily),
        pairs AS (SELECT * FROM lagged
                  WHERE pn IS NOT NULL AND d - pd = 1),
        m AS (SELECT event_type, count(*) AS np,
                     sum(n) AS sx, sum(pn) AS sy,
                     sum(n * n) AS sxx, sum(pn * pn) AS syy,
                     sum(n * pn) AS sxy
              FROM pairs GROUP BY 1)
        SELECT event_type, np AS n_pairs,
               round((sxy - sx * sy / np::DOUBLE)
                     / sqrt((sxx - sx * sx / np::DOUBLE)
                            * (syy - sy * sy / np::DOUBLE)), 6)
                 AS lag1_autocorr
        FROM m
    """)
def events_autocorr(spark, sf):
    # time-series diagnostic: lag-1 autocorrelation of the daily
    # volume per event type — one rollup, one lag window on the
    # tiny daily table, moments of the aligned pairs (the
    # Pearson-on-lagged-pairs estimator, exact pair alignment on
    # consecutive calendar days only)
    ev = _load(spark, sf, "events")
    daily = ev.groupBy("event_type",
                       F.to_date("ts").alias("d"))             .agg(F.count(F.lit(1)).alias("n"))
    wl = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type", "d", "n",
        F.lag("n").over(wl).alias("pn"),
        F.lag("d").over(wl).alias("pd"))
    pairs = lagged.filter(
        F.col("pn").isNotNull()
        & (F.datediff("d", "pd") == 1))
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("n").alias("sx"), F.sum("pn").alias("sy"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
        F.sum(F.col("pn") * F.col("pn")).alias("syy"),
        F.sum(F.col("n") * F.col("pn")).alias("sxy"))
    npc = F.col("np").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / npc
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / npc
    vy = F.col("syy") - F.col("sy") * F.col("sy") / npc
    return m.select("event_type", F.col("np").alias("n_pairs"),
                    F.round(cov / F.sqrt(vx * vy), 6)
                    .alias("lag1_autocorr"))


# stream ≡ batch: the streaming register table drains to exactly
# the batch aggregation, so the batch HLL oracle applies verbatim
@query(oracle=lambda: sql_of("sketch_hll_distinct"))
def stream_hll_distinct(spark, sf):
    # 2.I × sketches: the HLL register table as REAL Structured
    # Streaming state (64 mergeable max-rank rows per type FOREVER
    # vs unbounded exact-distinct state; max commutes with any
    # micro-batch split, complete mode ⇒ stream ≡ batch, so the
    # BATCH HLL oracle value-hash-checks the streaming run
    # verbatim) — streaming/incremental.py::stream_hll_once
    return stream_hll_once(
        spark, os.path.join(sf, "events.parquet"))


@query(oracle="""
        SELECT c.c_mktsegment, count(*) AS n_events,
               round(sum(e.value::DECIMAL(18,6)), 4)::DOUBLE
                 AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """)
def stream_static_enrich(spark, sf):
    # 2.I stream-static join: the streaming fact broadcast-joins a
    # batch dimension (slowly-refreshing-dim pattern; a static
    # side is never late, so no watermark), then a stateful
    # per-segment rollup; complete mode ⇒ stream ≡ batch and the
    # plain SQL join+rollup oracle applies
    # (streaming/incremental.py::stream_static_enrich_once)
    return stream_static_enrich_once(
        spark, os.path.join(sf, "events.parquet"),
        os.path.join(sf, "customer.parquet"))


# composes the ALREADY-GREEN batch scoring oracle — stream ≡ batch
@query(oracle=lambda: (
    "SELECT doc_id, quality FROM (" + sql_of("text_quality")
    + ") z WHERE quality >= 0.75"))
def stream_quality_filter(spark, sf):
    # 2.I stateless streaming transform: the quality gate as an
    # append-mode stream with ZERO state (pure codegen projection
    # + filter — the ingest-time document filter shape); stream ≡
    # batch trivially, oracled by the batch scoring SQL
    return stream_quality_filter_once(
        spark, os.path.join(sf, "documents.parquet"))
