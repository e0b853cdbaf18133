"""Temporal operators: distributed as-of join and sessionization.

Spark has no native ASOF JOIN (DuckDB/kdb/pandas ``merge_asof`` do);
the naive emulation — non-equi join ``l.ts >= r.ts`` then keep the
max — explodes to O(|L|·|R|) rows per key before the window prunes
it. ``asof_join`` instead uses the canonical distributed form:

  union-tag the two inputs → ONE shuffle on the key → one ordered
  window pass carrying the last-seen right payload forward
  (``last(ignoreNulls)`` over rows-unbounded-preceding) → keep left
  rows.

Cost is one shuffle of |L|+|R| narrow rows and a linear scan per
key — the same plan shape at 100 TB, with per-key skew bounded by
the largest single key's row count (salt upstream if one key owns
the stream). ``sessionize`` is the standard gap-based session id:
``lag`` + threshold + running ``sum`` — one shuffle on the entity
key, state linear in rows.

Both are exactly replayable in ANSI SQL (DuckDB ``ASOF JOIN`` /
window sum), which the driver uses as the correctness oracle.
Timestamp arithmetic is integer microseconds (``unix_micros`` ≡
DuckDB ``epoch_us``) so the gap compare is bit-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, by: str, ts: str,
              payload_cols: list[str]) -> DataFrame:
    """Left as-of-backward join: for every left row, attach the right
    row with the greatest ``right.ts <= left.ts`` within the same
    ``by`` key; no match → NULL payload.

    ``right`` must be unique per (by, ts) — equal-timestamp duplicates
    have no deterministic winner (dedup upstream; DuckDB's ASOF has
    the same caveat). Right payload columns are emitted as
    ``asof_{col}`` plus ``asof_{ts}`` (the matched timestamp).
    """
    l_cols = [c for c in left.columns]
    tagged_l = left.select(
        F.col(by), F.col(ts).alias("__ts"), F.lit(1).alias("__side"),
        *[F.col(c).alias(f"__l_{c}") for c in l_cols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in payload_cols],
        F.lit(None).cast(right.schema[ts].dataType).alias("__r_ts"))
    tagged_r = right.select(
        F.col(by), F.col(ts).alias("__ts"), F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
          for c in l_cols],
        *[F.col(c).alias(f"__r_{c}") for c in payload_cols],
        F.col(ts).alias("__r_ts"))
    # right rows sort BEFORE left rows at equal ts (__side 0 < 1), so
    # ts-equal matches are visible to the left row — the <= contract
    u = tagged_l.unionByName(tagged_r)
    w = (Window.partitionBy(by).orderBy("__ts", "__side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = u.select(
        "*",
        *[F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__m_{c}")
          for c in payload_cols],
        F.last("__r_ts", ignorenulls=True).over(w).alias("__m_ts"))
    return carried.filter(F.col("__side") == 1).select(
        *[F.col(f"__l_{c}").alias(c) for c in l_cols],
        *[F.col(f"__m_{c}").alias(f"asof_{c}") for c in payload_cols],
        F.col("__m_ts").alias(f"asof_{ts}"))


def asof_join_cogroup(left: DataFrame, right: DataFrame, by: str,
                      ts: str, payload_cols: list[str]) -> DataFrame:
    """``asof_join`` as a cogrouped-map (`groupBy().cogroup()
    .applyInPandas`): both sides shuffle ONCE on ``by``, then each
    key's partitions meet in a single pandas ``merge_asof``.

    Same contract as ``asof_join`` (backward, ``<=``, unique right per
    (by, ts)), parity-tested against it. Trade-off vs the union+window
    form: one Arrow hop and per-key pandas sorts instead of a single
    JVM window pass — wins when payload columns are wide (the window
    form carries every column through the sort), loses on tall narrow
    data. Both are one-shuffle plans; pick per workload.

    Self-source caveat: when both sides derive from the SAME scan
    (e.g. two filters of one table), their attributes share
    expression ids and Catalyst's column pruning can drop a column
    from ONE child of the cogroup (observed: right side delivered
    without ``ts`` under ``count()``). Detected here via the analyzed
    plans' exprId overlap; the right side is then decoupled through a
    materialization barrier. Loading the sides independently avoids
    the barrier.
    """
    import pandas as pd

    def _expr_ids(df):
        out = df._jdf.queryExecution().analyzed().output()
        return {out.apply(i).exprId().id() for i in range(out.size())}

    if _expr_ids(left) & _expr_ids(right):
        right = right.localCheckpoint(eager=True)

    l_fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in left.schema.fields)
    r_schema = {f.name: f.dataType.simpleString()
                for f in right.schema.fields}
    out_schema = (l_fields
                  + "".join(f", `asof_{c}` {r_schema[c]}"
                            for c in payload_cols)
                  + f", `asof_{ts}` {r_schema[ts]}")
    l_cols = list(left.columns)

    cols_out = [*l_cols, *[f"asof_{c}" for c in payload_cols],
                f"asof_{ts}"]

    def fn(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        if l_pdf.empty:
            return pd.DataFrame(columns=cols_out)
        l_pdf = l_pdf.sort_values(ts, kind="mergesort")
        if r_pdf.empty:
            out = l_pdf.copy()
            for c in cols_out[len(l_cols):]:
                out[c] = None
            return out[cols_out]
        r = r_pdf[[ts, *payload_cols]].sort_values(ts, kind="mergesort")
        r[f"asof_{ts}"] = r[ts]
        r = r.rename(columns={c: f"asof_{c}" for c in payload_cols})
        out = pd.merge_asof(l_pdf, r, on=ts, direction="backward")
        return out[cols_out]

    return (left.groupBy(by).cogroup(right.groupBy(by))
            .applyInPandas(fn, out_schema))


def range_join(left: DataFrame, right: DataFrame, by: str, ts: str,
               lookback: str, payload_cols: list[str]) -> DataFrame:
    """Banded range join: all right rows with
    ``left.ts - lookback <= right.ts <= left.ts`` per key — WITHOUT
    the non-equi cross product.

    A plain ``l.ts BETWEEN r.ts AND r.ts+Δ`` join on a key degrades to
    a per-key nested loop (Spark plans non-equi conditions as
    BroadcastNestedLoop/cartesian within the key). Banding restores an
    equi-join: bucket both sides by ``floor(ts / Δ)``; every qualifying
    pair is at most one bucket apart, so the left side probes buckets
    {b, b-1} (explode of a 2-element array — constant fan-out), the
    join key is (by, bucket), and the exact range predicate filters
    the ~2Δ-wide candidate band. Work is O(|L|·avg-band-occupancy)
    instead of O(|L|·|R|) per key; both sides shuffle once on
    (by, bucket), so skew concentrates only where one entity has many
    rows in one Δ window — salt upstream if so.
    """
    n, unit = lookback.split()
    per = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
           "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}[unit]
    delta_us = int(n) * per * 1_000_000
    l_us = F.unix_micros(F.col(ts).cast("timestamp"))
    r_us = F.unix_micros(F.col(ts).cast("timestamp"))
    # exact integer division (`div`): float division + cast can misplace
    # a row whose timestamp sits exactly on a bucket boundary
    l = left.withColumn("__us", l_us).withColumn(
        "__bkt", F.explode(F.array(
            F.expr(f"__us div {delta_us}"),
            F.expr(f"__us div {delta_us}") - 1)))
    r = right.select(
        F.col(by).alias("__rby"),
        r_us.alias("__rus"),
        r_us.alias("__tmp_us"),
        *[F.col(c).alias(f"in_range_{c}") for c in payload_cols],
        F.col(ts).alias(f"in_range_{ts}")) \
        .withColumn("__rbkt", F.expr(f"__tmp_us div {delta_us}")) \
        .drop("__tmp_us")
    joined = l.join(r, (F.col(by) == F.col("__rby"))
                    & (F.col("__bkt") == F.col("__rbkt")))
    return joined.filter(
        (F.col("__rus") <= F.col("__us"))
        & (F.col("__rus") >= F.col("__us") - delta_us)) \
        .drop("__us", "__bkt", "__rby", "__rbkt", "__rus")


def sessionize(events: DataFrame, by: str = "user_id", ts: str = "ts",
               gap: str = "30 minutes") -> DataFrame:
    """Gap-based session assignment: a new session starts when the
    entity's inter-event gap exceeds ``gap``. Adds ``session_idx``
    (1-based per entity, ordered by time).

    One shuffle (partition by entity); the window state is a single
    running counter. Gap arithmetic in integer microseconds so SQL
    engines replay it exactly.
    """
    n, unit = gap.split()
    per = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
           "hour": 3600, "hours": 3600}[unit]
    gap_us = int(n) * per * 1_000_000
    # unix_micros rejects TIMESTAMP_NTZ; the cast is numerically the
    # identity under the engine's fixed UTC session timezone
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    w = Window.partitionBy(by).orderBy(ts)
    prev = F.lag(us).over(w)
    new_sess = F.when(prev.isNull() | (us - prev > gap_us), 1).otherwise(0)
    run = (Window.partitionBy(by).orderBy(ts)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return events.withColumn("session_idx",
                             F.sum(new_sess).over(run).cast("long"))


def session_bounds(events: DataFrame, by: str = "user_id",
                   ts: str = "ts", gap: str = "30 minutes") -> DataFrame:
    """Session summary: (by, session_idx, n_events, session_start,
    session_end) — the groupBy reuses the sessionize shuffle's
    partitioning (same key prefix), so AQE plans it without a second
    full exchange of the fact rows."""
    s = sessionize(events, by, ts, gap)
    return (s.groupBy(by, "session_idx")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.date_format(F.min(ts), "yyyy-MM-dd HH:mm:ss")
                 .alias("session_start"),
                 F.date_format(F.max(ts), "yyyy-MM-dd HH:mm:ss")
                 .alias("session_end")))


def funnel(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered funnel completion: step k's time is the MIN event time
    of ``steps[k]`` STRICTLY AFTER step k-1's time, per entity — the
    standard behavioral-analytics shape ("of users who viewed, how
    many then clicked, then purchased, in that order").

    Output: one row per entity that completed step 1, columns
    ``t1..tK`` (timestamps; ``tk`` NULL once the funnel stalls — and
    every later step is NULL by construction since its predicate
    compares against NULL).

    Scale shape: K-1 left joins, every one keyed on the SAME entity
    column — after the first shuffle all stages are co-partitioned,
    so Spark reuses the hash partitioning instead of re-shuffling
    (one Exchange per new data source, none between stages). Each
    stage's aggregation is partial-agg'd map-side. Events tables are
    filtered to one step's type before joining, so no stage carries
    the full event stream."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    cur = (events.filter(F.col("event_type") == steps[0])
           .groupBy("user_id").agg(F.min("ts").alias("t1")))
    for k, step in enumerate(steps[1:], start=2):
        nxt = events.filter(F.col("event_type") == step) \
            .select("user_id", F.col("ts").alias("__nts"))
        prev_cols = [f"t{i}" for i in range(1, k)]
        cur = (cur.join(nxt, "user_id", "left")
               .withColumn("__ok", F.when(
                   F.col("__nts") > F.col(f"t{k - 1}"), F.col("__nts")))
               .groupBy("user_id", *prev_cols)
               .agg(F.min("__ok").alias(f"t{k}")))
    return cur


def markov_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences → ``(from_state, to_state, n, p)``.

    Each user's events are ordered by (ts, event_id) — the deterministic
    total order every window op in this engine uses — consecutive
    pairs come from one ``lead`` window (no self-join), and
    p = n(from→to) / Σ_to' n(from→to') row-normalizes the counts.
    The sequence-model feature extractor (next-action prediction,
    session anomaly scoring) over the events stream.

    Scale: ONE shuffle on the key (the window sort), then a
    partial-agg'd groupBy on (from, to) — |states|² output rows.
    The probability divide is integer-derived, bit-replayable.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (events
             .select(F.col("event_type").alias("from_state"),
                     F.lead("event_type", 1).over(w).alias("to_state"))
             .filter(F.col("to_state").isNotNull()))
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("from_state")
    return counts.select(
        "from_state", "to_state", "n",
        (F.col("n").cast("double") / F.sum("n").over(tot)).alias("p"))


def time_decay_agg(events: DataFrame) -> DataFrame:
    """Exponentially time-decayed engagement per user →
    ``(user_id, n_events, decayed_value)`` with
    decayed = Σ value·0.95^(days before 2024-02-01).

    The recency-weighted feature every ranking/recommendation
    pipeline derives from an event log (yesterday's purchase counts
    ~20× more than last month's at 0.95/day). The reference date is
    a fixed date, NOT now(): feature snapshots must be
    reproducible — rerunning the pipeline tomorrow over the same
    events yields the same training table (the determinism contract
    shared with ``operators/sampling.py``). Events AFTER the reference
    date get decay^(negative) > 1 — amplified, not dropped: the
    reference date must be at or past the snapshot end (filtering
    future rows is the caller's feature-leakage guard, which this
    operator must not silently second-guess).

    Plan: pure codegen projection (integer day diff → pow) feeding
    one partial-agg'd groupBy — scan-speed at 100 TB. The day diff
    is date-granular and the decay an integer-exponent pow, so both
    engines compute identical doubles; the Σ is the only
    order-sensitive term (callers round at 6).
    """
    days = F.datediff(F.lit("2024-02-01").cast("date"),
                      F.col("ts").cast("date"))
    contrib = F.col("value") * F.pow(F.lit(0.95),
                                   days.cast("double"))
    return (events.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(contrib), 6).alias("decayed_value")))


def session_paths(events: DataFrame, gap: str = "30 minutes",
                  max_steps: int = 5, top: int = 20) -> DataFrame:
    """Top session paths → ``(path, n_sessions)``: sessionize on the
    inactivity gap, take each session's first ``max_steps`` events in
    the engine-wide (ts, event_id) order, join them as an arrow-separated
    string, and count path frequencies — the UX/funnel-mining
    companion to ``markov_transitions`` (which models single steps;
    this surfaces whole journeys). Ties in path counts break
    lexicographically for a deterministic top list.

    Plan: reuses ``sessionize``'s entity-keyed shuffle, then ONE more
    window on the same (key, session) partitioning, a collect-free
    string_agg-style groupBy, and a count — |sessions| rows after the
    first agg, |distinct paths| after the second.
    """
    from pyspark.sql import Window

    s = sessionize(events, gap=gap)
    w = Window.partitionBy("user_id", "session_idx").orderBy("ts", "event_id")
    first_steps = (s.withColumn("__step", F.row_number().over(w))
                   .filter(F.col("__step") <= max_steps))
    paths = (first_steps.groupBy("user_id", "session_idx")
             .agg(F.concat_ws(
                 ">", F.array_sort(F.collect_list(
                     F.struct("__step", F.col("event_type").alias("s"))))
                 .getField("s")).alias("path")))
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"))
    # top-N via orderBy+limit, THEN the rank window over ≤ top rows
    # (a global window over all distinct paths single-partitions an
    # unbounded table — the skew_profile lesson)
    head = counted.orderBy(F.desc("n_sessions"), F.asc("path")) \
        .limit(top)
    worder = Window.partitionBy().orderBy(
        F.desc("n_sessions"), F.asc("path"))
    return (head.withColumn("rank", F.row_number().over(worder))
            .select("path", "n_sessions", "rank"))


def scd2_intervals(events: DataFrame) -> DataFrame:
    """Type-2 slowly-changing-dimension build: collapse each entity's
    event stream into validity intervals of the tracked attribute →
    ``(user_id, event_type, valid_from_us, valid_to_us, is_current)`` with
    epoch-µs BIGINT bounds (exact, engine-portable) and a NULL
    ``valid_to_us`` on the open current interval.

    Islands-by-VALUE-change (not by time gap — that's ``sessionize``):
    lag() marks changes, a running change-count keys the interval,
    min/max close it, lead() carries the next interval's start as the
    exclusive upper bound. All four windows share ONE partition key
    (``user_id``) and sort, so the whole build is a single shuffle + sort
    per entity — at 100 TB this is the standard one-pass CDC-to-SCD2
    compaction. Ties on ``ts`` are broken by ``event_id`` so re-runs
    are byte-identical.
    """
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    chg = (events
           .withColumn("__prev", F.lag("event_type").over(w))
           .withColumn("__new", (F.col("__prev").isNull()
                                 | (F.col("event_type") != F.col("__prev")))
                       .cast("int"))
           .withColumn("__grp", F.sum("__new").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    iv = (chg.groupBy("user_id", "__grp")
          # event_type is constant within a run
          .agg(F.min("event_type").alias("event_type"),
               # NTZ → TZ cast is wall-clock identity under the UTC
               # session tz; unix_micros only accepts TIMESTAMP
               F.min(F.unix_micros(F.col("ts").cast("timestamp")))
               .alias("valid_from_us")))
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us")
    return (iv
            .withColumn("valid_to_us",
                        F.lead("valid_from_us").over(w2))
            .withColumn("is_current", F.col("valid_to_us").isNull())
            .select("user_id", "event_type", "valid_from_us", "valid_to_us",
                    "is_current"))


def kaplan_meier(durations: DataFrame) -> DataFrame:
    """Kaplan–Meier survival estimator over ``(t, observed)`` rows
    (t: integer duration; observed: TRUE = the event happened,
    FALSE = right-censored) → one row per distinct EVENT time:
    ``(t, n_risk, d_events, survival)``.

    S(t) = Π_{t_j ≤ t} (1 − d_j / n_j), computed as
    exp(Σ ln((n_j − d_j)/n_j)) so the product becomes a running
    window sum — every ln argument is a ratio of exact integer
    counts, and the cumulative sum runs in the window's total order,
    so the curve replays bit-for-bit in SQL. n_risk (everyone with
    duration ≥ t, censored included) falls out of ONE descending
    cumulative count over the grouped duration table — the whole
    estimator is two partial-agg'd aggregations plus two windows on a
    distinct-durations-sized table, nothing per-subject past the
    first groupBy.
    """
    byt = (durations.groupBy("t")
           .agg(F.count(F.lit(1)).alias("n_at"),
                F.sum(F.col("observed").cast("long"))
                .alias("d_events")))
    w_desc = (Window.orderBy(F.desc("t"))
              .rowsBetween(Window.unboundedPreceding, 0))
    w_asc = (Window.orderBy(F.asc("t"))
             .rowsBetween(Window.unboundedPreceding, 0))
    g = (byt.withColumn("n_risk", F.sum("n_at").over(w_desc))
         .withColumn("__lnterm",
                     # d == n_risk ⇒ the factor is 0 and S collapses;
                     # keep ln() off that case (Spark nulls ln(0),
                     # DuckDB errors) and zero S via the flag below
                     F.when((F.col("d_events") > 0)
                            & (F.col("d_events") < F.col("n_risk")),
                            F.log((F.col("n_risk")
                                   - F.col("d_events"))
                                  / F.col("n_risk")))
                     .otherwise(F.lit(0.0)))
         .withColumn("__dead",
                     F.max((F.col("d_events") == F.col("n_risk"))
                           .cast("int")).over(w_asc))
         .withColumn("survival",
                     F.when(F.col("__dead") == 1, F.lit(0.0))
                     .otherwise(
                         F.exp(F.sum("__lnterm").over(w_asc)))))
    return (g.filter(F.col("d_events") > 0)
            .select("t", "n_risk", "d_events",
                    F.round("survival", 6).alias("survival")))


def position_attribution(events: DataFrame) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: every
    conversion distributes 1.0 of credit over the touches that
    precede it (same entity) — 40% first touch, 40% last touch, 20%
    split evenly across the middle; 1 touch ⇒ 1.0, 2 touches ⇒
    0.5/0.5, 0 touches ⇒ the conversion carries no attribution row.
    Output: ``(conv_id, touch_id, position, n_touches, credit)``.

    The industry-standard compromise between first-touch (ignores
    closing) and last-touch (ignores discovery), expressed
    relationally: one co-partitioned join on the entity key
    (touch.ts < conv.ts), a per-conversion rank window, then pure
    credit arithmetic — exact rational inputs, so the replay is
    bit-identical. Scale: everything shuffles once on the entity
    key; per-conversion touch lists are user-history-sized, and the
    rank window shares the join's partitioning (no second exchange).
    Ties on ts break by event id — deterministic journeys.
    """
    conv = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("e"), F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"))
    touch = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("e"), F.col("event_id").alias("touch_id"),
        F.col("ts").alias("touch_ts"))
    j = conv.join(touch, "e").filter(F.col("touch_ts")
                                     < F.col("conv_ts"))
    # conv_id is unique, so adding the entity key to the window
    # partition changes nothing semantically — but HashPartitioning(e)
    # from the join SATISFIES ClusteredDistribution(e, conv_id)
    # (subset rule), so the windows run in the join's partitioning
    # with NO second exchange (verified: 2 exchanges total, both
    # join inputs)
    w = Window.partitionBy("e", "conv_id").orderBy(
        F.asc("touch_ts"), F.asc("touch_id"))
    wn = Window.partitionBy("e", "conv_id")
    ranked = (j.withColumn("position", F.row_number().over(w))
              .withColumn("n_touches", F.count(F.lit(1)).over(wn)))
    n = F.col("n_touches")
    pos = F.col("position")
    credit = (F.when(n == 1, F.lit(1.0))
              .when(n == 2, F.lit(0.5))
              .when(pos == 1, F.lit(0.4))
              .when(pos == n, F.lit(0.4))
              .otherwise(F.lit(0.2) / (n - 2)))
    return ranked.select("conv_id", "touch_id", "position",
                         "n_touches",
                         F.round(credit, 6).alias("credit"))
