"""Structured Streaming front-end for incremental KG construction.

The reference has no streaming path — its "dynamic updates" are
re-runs of a batch script against Neo4j MERGE
(src/engine/process_social_media_images.py:152-182; SURVEY §2.I).
The batch pipeline here already gives the same incremental semantics
via snapshot resume (anti-join on processed doc_ids). This module adds
the Spark-native continuous form on top:

- ``stream_docs``      — file-source stream over an interleaved-docs
                         directory (new parquet files = new documents;
                         ``maxFilesPerTrigger`` bounds batch size).
- ``stream_linked``    — ``foreachBatch`` driving the SAME
                         ``KGPipeline.stage_linked`` used in batch
                         mode, each micro-batch one
                         ``KGPipeline._all_or_nothing`` write: a batch
                         that fails is undone before its re-delivery
                         is linked, and docs already processed are
                         skipped, so restarts are idempotent.
- ``stream_event_counts`` — watermarked tumbling-window aggregation
                         over an event stream (late data dropped after
                         the watermark), the standard stateful-agg
                         shape for engagement counters feeding edge
                         weights.

Scale notes: the micro-batch path reuses the batch linking (one
gate: fused kernel or LSH), so streaming throughput == batch
throughput at the same trigger size; state for the windowed agg is
bounded by (watermark horizon × distinct keys).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import KGPipeline

DOCS_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
               "media_ref:string,offset:int>>")
EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")
DOCUMENTS_SCHEMA = ("doc_id bigint, text string, lang string, "
                    "source string, n_chars bigint")

_ONCE_SEQ = [0]  # per-session memory-sink name counter


def _source_dir(path: str) -> str:
    """The file source reads directories: a single file is staged
    behind a symlink in a fresh directory (no data copy)."""
    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="fkg_stream_src_")
        os.symlink(path, os.path.join(d, os.path.basename(path)))
        return d
    return path


def _drain(stream: DataFrame, mode: str, tag: str) -> DataFrame:
    """Run ``stream`` to the end of its static source (``availableNow``)
    into a memory sink named ``fkg_stream_<tag>_<n>`` and return that
    table — the deterministic driver-facing form of a streaming
    query."""
    _ONCE_SEQ[0] += 1
    name = f"fkg_stream_{tag}_{_ONCE_SEQ[0]}"
    q = (stream.writeStream.outputMode(mode).format("memory")
         .queryName(name)
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix="fkg_stream_cp_"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return stream.sparkSession.table(name)


def stream_docs(spark: SparkSession, docs_dir: str,
                max_files_per_trigger: int = 8) -> DataFrame:
    """Streaming scan of an interleaved-docs directory."""
    return (spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(docs_dir))


def stream_linked(docs_stream: DataFrame, catalog: DataFrame,
                  pipe: KGPipeline, checkpoint_dir: str):
    """Run mention detection + linking on each micro-batch, appending
    to the pipeline's ``linked`` snapshot table.

    Returns the started ``StreamingQuery``; its ``availableNow``
    trigger drains everything currently in the directory and stops —
    the deterministic-test / backfill trigger.
    """
    def process(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        with pipe._all_or_nothing():
            pipe.stage_linked(batch_df, catalog, resume=True)

    return (docs_stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .trigger(availableNow=True)
            .start())


def stream_sessionize(events_stream: DataFrame,
                      gap: str = "30 minutes") -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    gap-based sessionization with per-entity state (open session's
    index / count / bounds, in integer µs).

    Each micro-batch sorts the entity's new events, extends or closes
    the open session carried in state, and EMITS only closed sessions
    (append semantics). State is O(1) per entity — index + count + two
    timestamps — the bounded-state form of the batch
    ``operators.temporal.sessionize``; over a fully drained static
    source the closed-session output equals the batch sessionization
    minus each entity's final (still-open) session, which is what the
    driver's SQL oracle replays.
    """
    import pandas as pd

    n, unit = gap.split()
    per = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
           "hour": 3600, "hours": 3600}[unit]
    gap_us = int(n) * per * 1_000_000
    out_schema = ("user_id long, session_idx long, n_events long, "
                  "session_start string, session_end string")
    state_schema = "session_idx long, n_events long, start_us long, last_us long"

    def fn(key, pdfs, state):
        ts_us = pd.concat([p[["ts"]] for p in pdfs])["ts"] \
            .astype("datetime64[us]").astype("int64").sort_values().tolist()
        if state.exists:
            idx, cnt, start, last = state.get
        else:
            idx, cnt, start, last = 0, 0, None, None
        closed = []
        for t in ts_us:
            if last is None or t - last > gap_us:
                if cnt:
                    closed.append((idx, cnt, start, last))
                idx += 1
                cnt, start = 1, t
            else:
                cnt += 1
            last = t
        state.update((idx, cnt, start, last))
        if closed:
            cdf = pd.DataFrame(closed, columns=[
                "session_idx", "n_events", "start_us", "last_us"])
            yield pd.DataFrame({
                "user_id": key[0],
                "session_idx": cdf["session_idx"],
                "n_events": cdf["n_events"],
                "session_start": pd.to_datetime(
                    cdf["start_us"], unit="us").dt.strftime("%Y-%m-%d %H:%M:%S"),
                "session_end": pd.to_datetime(
                    cdf["last_us"], unit="us").dt.strftime("%Y-%m-%d %H:%M:%S"),
            })

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (events_stream.groupBy("user_id")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_sessionize_once(spark: SparkSession, events_path: str,
                           gap: str = "4 hours") -> DataFrame:
    """Drain a static events directory through ``stream_sessionize``
    (availableNow, append-mode memory sink) and return the closed
    sessions — the driver-facing deterministic runner, same pattern as
    ``stream_tumbling_agg_once``."""

    events_path = _source_dir(events_path)
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    out = stream_sessionize(src, gap=gap)
    return _drain(out, "append", "sess")


def stream_tumbling_agg_once(spark: SparkSession,
                             events_path: str) -> DataFrame:
    """Drain a static events directory through a REAL Structured
    Streaming query (file source → stateful tumbling-window agg →
    complete-mode memory sink, ``availableNow`` trigger) and return
    the final result table.

    This is the deterministic form of ``stream_event_counts`` used by
    the driver's value-hash oracle: complete output mode needs no
    watermark, so the result is exactly the batch aggregation no
    matter how the source splits into micro-batches — stream ≡ batch
    by construction, which is what lets a streaming operator carry a
    full ANSI-SQL oracle. (The production shape — append mode +
    watermarked late-data drop + bounded state — is
    ``stream_event_counts``, pinned in tests/test_streaming.py; this
    runner exists so the driver can hash-check the stateful streaming
    agg itself.)

    Output matches the batch ``events_tumbling_agg`` query:
    (hour_start, event_type, n, total_value).
    """

    events_path = _source_dir(events_path)
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    agg = (src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
                .cast("double").alias("total_value"))
           .select(F.date_format(F.col("win.start"),
                                 "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
                   "event_type", "n", "total_value"))
    return _drain(agg, "complete", "evagg")


def stream_interval_join(views: DataFrame, purchases: DataFrame,
                         horizon: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Stream-stream INNER interval join: attribute each purchase to
    every view by the same user within ``horizon`` before it.

    Both sides carry watermarks + the time-range predicate, which is
    what lets Spark bound the join state (each side's buffered rows
    are purged once the other side's watermark passes the interval) —
    the canonical stream-stream join shape. At 100 TB/day the state
    is O(events within horizon+watermark), not O(stream).
    """
    v = views.select(F.col("event_id").alias("view_id"),
                     F.col("user_id").alias("v_user"),
                     F.col("ts").alias("v_ts")) \
        .withWatermark("v_ts", watermark)
    p = purchases.select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"),
                         F.col("value").alias("purchase_value")) \
        .withWatermark("p_ts", watermark)
    return p.join(
        v, (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(
            f"INTERVAL {horizon}")), "inner")


def stream_interval_join_once(spark: SparkSession,
                              events_path: str) -> DataFrame:
    """Deterministic driver-facing runner: drain a static events
    directory through TWO file-source streams (views / purchases) and
    the stream-stream interval join, append-mode memory sink,
    availableNow.

    The watermark here is LENIENT (10 years — nothing is ever
    declared late) so the result ≡ the batch interval join no matter
    how the source splits into micro-batches; that equivalence is
    what gives a stateful stream-stream join a full ANSI-SQL oracle.
    The production shape (tight watermark, bounded state) is
    ``stream_interval_join``'s default, pinned in
    tests/test_streaming.py.
    """

    events_path = _source_dir(events_path)

    def src():
        return spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)

    out = stream_interval_join(
        src().filter(F.col("event_type") == "view"),
        src().filter(F.col("event_type") == "purchase"),
        watermark="3650 days")
    out = out.select("purchase_id", "view_id",
                     F.col("p_user").alias("user_id"),
                     F.round("purchase_value", 6).alias("purchase_value"))
    return _drain(out, "append", "ssj")


def stream_event_counts(events_stream: DataFrame,
                        window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event_type.

    events_stream: (ts timestamp, event_type string, value double).
    Late rows beyond ``watermark`` are dropped; state is purged as the
    watermark advances (bounded memory at 100 TB/day event volumes).
    """
    return (events_stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("total_value"))
            .select(F.col("win.start").alias("window_start"),
                    "event_type", "n", "total_value"))


def stream_dedup_keys(events_stream: DataFrame,
                      keys: list[str],
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming deduplication with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key
    and expires each key's state once the event-time watermark passes
    it — the only dedup shape that survives an unbounded stream
    (plain ``dropDuplicates`` on a stream grows state forever; at
    100 TB/day ingest that is an OOM, not an operator).

    Emits the surviving rows' KEY COLUMNS (append mode): which
    physical row wins per key is arrival-order-dependent, the key set
    is not — so downstream consumers (and the oracle) get a
    deterministic contract. A key CAN legitimately reappear after its
    state expired; the watermark is the dedup horizon, exactly
    Kafka-ingest semantics."""
    return (events_stream
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys)
            .select(*keys))


def stream_dedup_once(spark: SparkSession, events_path: str) -> DataFrame:
    """Drain a static events directory through ``stream_dedup_keys``
    with a lenient (1-year) watermark — no state ever expires during
    the bounded run, so the emitted key set ≡ batch ``SELECT
    DISTINCT`` no matter how the source splits into micro-batches.
    The driver-facing deterministic runner (same pattern as
    ``stream_tumbling_agg_once``); the bounded-state expiry semantics
    are pinned separately in tests/test_streaming.py."""

    events_path = _source_dir(events_path)
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    out = stream_dedup_keys(src, ["user_id", "event_type"],
                            watermark="365 days")
    return _drain(out, "append", "dedup")


def stream_merge_into(stream_df: DataFrame, table, key_cols: list[str],
                      order_col: str, checkpoint: str):
    """Streaming MERGE INTO (upsert sink): each micro-batch is reduced
    to one row per key (latest by ``order_col``) and merged into a
    ``SnapshotTable`` — the lakehouse CDC-apply pattern (Delta's
    foreachBatch-MERGE). Structured Streaming replays micro-batches
    after failures, and a blind merge re-applied is only idempotent if
    NOTHING else committed in between — so the sink records the last
    applied batch id in the table directory and skips replays
    (transactional exactly-once across restarts, the same batchId
    fencing Delta sinks use).

    Fencing is keyed on (checkpoint identity, batch id) — Delta's
    (txnAppId, txnVersion) — NOT the bare batch id: a NEW checkpoint
    restarts batch numbering with possibly different batch contents
    (late files reorder), so bare-id fencing would silently drop
    never-applied data. A fresh checkpoint therefore re-applies its
    batches; that is safe because re-merging identical reduced rows is
    idempotent by MERGE semantics.

    Returns the started query (availableNow trigger is the caller's
    choice via the stream's writeStream options)."""
    import json

    from ..operators.topk import grouped_top_k

    state_path = os.path.join(table.root, "_sink_state.json")
    app_id = os.path.abspath(checkpoint)

    def _last_applied() -> int:
        if not os.path.exists(state_path):
            return -1
        with open(state_path) as f:
            st = json.load(f)
        # a different checkpoint = a different stream identity: its
        # batch ids say nothing about THIS stream's progress
        return st["last_batch"] if st.get("app") == app_id else -1

    def sink(batch_df, batch_id: int):
        if batch_id <= _last_applied():
            return                      # replayed batch — already in
        reduced = grouped_top_k(
            batch_df, key_cols,
            [batch_df[order_col].desc()], 1)
        spark_ = batch_df.sparkSession
        if table.exists():
            table.merge(spark_, reduced, key_cols,
                        stage=f"stream_merge_{batch_id}")
        else:
            table.write(reduced, mode="overwrite",
                        stage=f"stream_merge_{batch_id}")
        tmp = state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"app": app_id, "last_batch": int(batch_id)}, f)
        os.replace(tmp, state_path)

    return (stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def stream_merge_once(spark: SparkSession, events_path: str,
                      table_root: str) -> DataFrame:
    """Driver runner: drain the events directory through
    ``stream_merge_into`` keyed on (user_id, event_type), latest row
    by event_id wins. Deterministic over a static source regardless
    of micro-batching: per key, the last-arriving batch's max-event_id
    row is the final state."""

    from ..sources.tables import SnapshotTable

    events_path = _source_dir(events_path)
    src = (spark.readStream.schema(EVENTS_SCHEMA)
           .option("maxFilesPerTrigger", 1)     # one file = one batch
           .parquet(events_path)
           .select("event_id", "user_id", "event_type", "value"))
    t = SnapshotTable(table_root)
    q = stream_merge_into(src, t, ["user_id", "event_type"],
                          "event_id",
                          tempfile.mkdtemp(prefix="fkg_stream_cp_"))
    q.awaitTermination()
    return t.read(spark)


def stream_cms_once(spark: SparkSession, docs_path: str,
                    depth: int = 4, width: int = 16) -> DataFrame:
    """Drain the documents table through a REAL Structured Streaming
    count-min sketch: token occurrences → (depth × width) bucket
    counts as the streaming STATE (complete-mode stateful agg,
    ``availableNow``), then join the drained bucket table against the
    batch exact counts → ``(term, n_exact, n_cms)``.

    This is why sketches matter in streaming: the state is d·w cells
    FOREVER — a streaming exact term count holds |vocabulary| rows of
    state (unbounded on an open vocabulary), the sketch holds a
    constant few KB no matter how many tokens flow through. Complete
    mode ⇒ the drained bucket table equals the batch aggregation
    exactly (the ``stream_tumbling_agg_once`` stream≡batch contract),
    so the full ANSI-SQL oracle applies; the estimates use the same
    portable 60-bit lane as ``operators/sketches.cms_term_counts``.
    """

    from fashion_knowledge_graph_spark.operators.sketches import _h60

    docs_path = _source_dir(docs_path)
    rows = F.array([F.lit(i) for i in range(depth)])

    def cells_of(df):
        t = (df.filter(F.col("text").isNotNull())
             .select(F.explode(F.split("text", " ")).alias("term"))
             .filter(F.col("term") != ""))
        return t.select(
            "term", F.explode(rows).alias("d")).select(
            "d",
            F.pmod(_h60(F.concat_ws(":", F.col("d"), F.col("term"))),
                   F.lit(width)).alias("bucket"))

    src = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(docs_path)
    buckets = cells_of(src).groupBy("d", "bucket").agg(
        F.count(F.lit(1)).alias("bucket_n"))
    drained = _drain(buckets, "complete", "cms")

    batch = spark.read.parquet(docs_path) \
        .filter(F.col("text").isNotNull()) \
        .select(F.explode(F.split("text", " ")).alias("term")) \
        .filter(F.col("term") != "")
    exact = batch.groupBy("term").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = exact.select(
        "term", F.explode(rows).alias("d")).select(
        "term", "d",
        F.pmod(_h60(F.concat_ws(":", F.col("d"), F.col("term"))),
               F.lit(width)).alias("bucket"))
    est = (probes.join(F.broadcast(drained), ["d", "bucket"])
           .groupBy("term").agg(F.min("bucket_n").alias("n_cms")))
    return exact.join(est, "term").select("term", "n_exact", "n_cms")


def stream_hll_once(spark: SparkSession, events_path: str) -> DataFrame:
    """Drain the events table through a REAL Structured Streaming
    HyperLogLog: the streaming STATE is the m=64 register table per
    event type — a ``groupBy(type, register).max(rank)`` stateful
    aggregation, i.e. 64 rows per type FOREVER while an exact
    streaming COUNT DISTINCT would hold every user id ever seen
    (unbounded). ``max`` is the canonical mergeable-sketch fold, so
    arbitrary micro-batch boundaries commute; complete mode ⇒ the
    drained registers equal the batch aggregation exactly, and the
    driver oracle for the BATCH HLL applies verbatim (stream ≡ batch).

    Register math mirrors ``registry/stats.py::sketch_hll_distinct``:
    portable 60-bit md5, j = h mod 64, integer leading-zero rank via
    length(bin(w)), fanned-in grid, linear-counting correction.
    """

    events_path = _source_dir(events_path)

    def registers_of(df):
        h = F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.lit("hll"), F.col("user_id").cast("string"))),
            1, 15), 16, 10).cast("bigint")
        hashed = df.select("event_type", h.alias("h")).select(
            "event_type", (F.col("h") % 64).cast("int").alias("j"),
            F.expr("h div 64").alias("w"))
        rank = F.when(F.col("w") == 0, F.lit(55)).otherwise(
            54 - F.length(F.bin("w")) + 1).cast("int")
        return (hashed.select("event_type", "j", rank.alias("r"))
                .groupBy("event_type", "j")
                .agg(F.max("r").alias("m_j")))

    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    # pin the drained state: the memory-sink view self-joins below
    # (grid ← regs ← same view) and Spark's analyzer rejects the
    # conflicting view references; the register table is 64·|types|
    # rows, so the checkpoint is free
    regs = _drain(registers_of(src), "complete", "hll") \
        .localCheckpoint(eager=True)

    grid = (regs.select("event_type").distinct()
            .crossJoin(spark.range(64)
                       .select(F.col("id").cast("int").alias("j"))))
    full = grid.join(regs, ["event_type", "j"], "left") \
        .fillna(0, subset=["m_j"])
    agg = full.groupBy("event_type").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0)).alias("v"))
    raw = F.lit(0.709 * 64.0 * 64.0) / F.col("z")
    est = F.when((raw <= 2.5 * 64) & (F.col("v") > 0),
                 F.lit(64.0) * F.log(F.lit(64.0)
                                     / F.col("v"))).otherwise(raw)
    exact = spark.read.parquet(events_path).groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"))
    return (agg.join(exact, "event_type")
            .select("event_type", "n_exact", "v",
                    F.round(est, 4).alias("hll_est")))


def stream_static_enrich_once(spark: SparkSession, events_path: str,
                              customer_path: str) -> DataFrame:
    """Stream-STATIC dimension enrichment: the streaming fact joins a
    batch dimension table (re-read per micro-batch, broadcast-sized —
    the canonical slowly-refreshing-dim pattern), then a stateful
    per-segment rollup. No watermark needed: a static side can never
    be late. Complete mode ⇒ stream ≡ batch, so the driver's plain
    SQL join+rollup oracle value-hash-checks the streaming run."""

    events_path = _source_dir(events_path)
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    dim = spark.read.parquet(customer_path).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    joined = src.join(F.broadcast(dim), "user_id")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double").alias("total_value"))
    return _drain(agg, "complete", "enrich").localCheckpoint(eager=True)


def stream_quality_filter_once(spark: SparkSession,
                               docs_path: str) -> DataFrame:
    """Stateless streaming quality gate: the C4/Gopher-style score is
    a pure codegen projection, so the stream runs in append mode with
    ZERO state — the shape of an ingest-time document filter (score,
    gate, pass through). Stream ≡ batch trivially (no aggregation to
    re-order), so the batch scoring SQL oracles the run."""

    from ..functions.text import quality_score

    docs_path = _source_dir(docs_path)
    src = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(docs_path)
    scored = src.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 6).alias("quality")) \
        .filter(F.col("quality") >= 0.75)
    return _drain(scored, "append", "qgate").localCheckpoint(eager=True)
