"""Lakehouse queries: snapshot tables, row-level deletes, merges, time
travel, compaction, materialized views and Python data sources."""

from __future__ import annotations

import datetime
import hashlib
import os
import tempfile

from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.registry import query
from fashion_knowledge_graph_spark.registry.common import _load
from fashion_knowledge_graph_spark.sources.matview import IncrementalMV
from fashion_knowledge_graph_spark.sources.pysource import register
from fashion_knowledge_graph_spark.sources.tables import SnapshotTable


@query(oracle="""
        -- DELETE WHERE cond removes rows where cond IS TRUE; rows with
        -- a NULL predicate are KEPT (matches SnapshotTable.delete_where)
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        FROM customer
        WHERE (round(c_acctbal, 2) < 1000) IS NOT TRUE
    """)
def s9_delete_where(spark, sf):
    # S9/S10 row-level DELETE: load a snapshot table, DELETE WHERE,
    # read back — the copy-on-write rewrite is what the oracle's
    # NOT(cond) filter must reproduce exactly (time travel to the
    # pre-delete snapshot is pinned in tests/test_pipeline.py)
    cust = _load(spark, sf, "customer").select(
        "c_custkey", "c_name",
        F.round("c_acctbal", 2).alias("acctbal"))
    t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_s9_"))
    t.write(cust, mode="overwrite", stage="load")
    t.delete_where(spark, F.col("acctbal") < 1000)
    return t.read(spark)


@query(oracle="""
        SELECT label, count(*) AS n_vectors,
               max(len(embedding)) AS dim
        FROM embeddings GROUP BY label
    """)
def s11_index_stats(spark, sf):
    # vector-index stats (SURVEY S11): count/dim per label space
    emb = _load(spark, sf, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.max(F.size("embedding")).alias("dim"))


# CSV round-trip: the oracle reads the ORIGINAL parquet — equality
# proves the Spark CSV write+read lossless
@query(oracle="""
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """)
def s_csv_roundtrip(spark, sf):
    # CSV source/sink coverage: write the supplier dim to CSV
    # (header, Spark quoting) and read it back with an EXPLICIT
    # schema (no inference job — at 100 TB schema inference is a
    # full extra scan). The oracle reads the ORIGINAL parquet, so
    # the value-hash proves the round-trip lossless, including
    # shortest-repr double round-tripping of s_acctbal

    sup = _load(spark, sf, "supplier")
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_csv_{tag}"
    sup.coalesce(1).write.mode("overwrite") \
        .option("header", True).csv(path)
    return spark.read.option("header", True) \
        .schema(sup.schema).csv(path) \
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


# rollback: post-rollback read ≡ the original load
@query(oracle="""
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """)
def s_rollback(spark, sf):
    # Iceberg rollback_to_snapshot: load the supplier dim, append
    # a corrupt batch, ROLL BACK — a pure metadata commit
    # re-referencing the good snapshot's file set (no data job);
    # the read must equal the original exactly, the bad snapshot
    # stays time-travelable (asserted in-query)
    # (sources/tables.py::SnapshotTable.rollback)
    sup = _load(spark, sf, "supplier")
    t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_rb_"))
    good = t.write(sup, mode="overwrite", stage="load")
    bad = t.write(
        sup.limit(3).withColumn("s_acctbal", F.lit(-1.0e9)),
        mode="append", stage="corrupt")
    t.rollback(good)
    assert t.count_rows() == t.count_rows(good)
    assert t.count_rows(bad) > t.count_rows(good)  # history intact
    return t.read(spark)


@query(oracle="""
        SELECT event_type, count(*) AS n,
               round(sum(value::DECIMAL(18,6)), 4)::DOUBLE AS total_value
        FROM events WHERE user_id % 2 <> 0 GROUP BY 1
    """)
def s_incremental_read(spark, sf):
    # Iceberg-contract CDC (incremental append scan): two appends
    # into a snapshot table; the scan between snapshot 1 and
    # CURRENT must return EXACTLY the second append's rows. The
    # planning is a manifest file-set diff — no data-compare job —
    # which at 100 TB is what makes resume/incremental pipelines
    # (north_rule: "resumable from an Iceberg snapshot checkpoint")
    # cost O(delta), not O(table).
    ev = _load(spark, sf, "events")
    t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_cdc_"))
    s1 = t.write(ev.filter(F.col("user_id") % 2 == 0),
                 mode="append", stage="base")
    t.write(ev.filter(F.col("user_id") % 2 != 0),
            mode="append", stage="inc")
    inc = t.incremental_read(spark, s1)
    return inc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double").alias("total_value"))


@query(oracle="""
        SELECT l_returnflag, count(*) AS n,
               round(sum(l_quantity::DECIMAL(18,6)), 2)::DOUBLE AS sum_qty
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 23:59:59'
        GROUP BY 1
    """)
def s_minmax_skipping(spark, sf):
    # manifest min/max data skipping (Iceberg planFiles): commit
    # lineitem range-clustered on l_shipdate with per-file bounds,
    # then read one year — file pruning happens on the DRIVER from
    # manifest stats before Spark ever lists the files, and the
    # residual predicate keeps the result exact. The assert pins
    # that pruning actually engaged (a no-op prune would silently
    # turn time-slice queries into full scans at 100 TB).

    li = _load(spark, sf, "lineitem")
    t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_skip_"))
    t.write(li.repartitionByRange(8, "l_shipdate"), mode="overwrite",
            stage="cluster", stats_cols=["l_shipdate"])
    lo = datetime.datetime(1997, 1, 1)
    hi = datetime.datetime(1997, 12, 31, 23, 59, 59)
    kept, total = t.prune_files("l_shipdate", lo, hi)
    assert len(kept) < total, "manifest pruning did not engage"
    out = t.read_where(spark, "l_shipdate", lo, hi)
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 2)
        .cast("double").alias("sum_qty"))


@query(oracle="""
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN upper(c_name)
                    ELSE c_name END AS c_name,
               round(CASE WHEN c_custkey % 7 = 0
                          THEN round(c_acctbal, 2) + 1000
                          ELSE round(c_acctbal, 2) END, 2) AS acctbal
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000, 'new#' || c_name, 0.0
        FROM customer WHERE c_custkey % 11 = 0
    """)
def s_merge_upsert(spark, sf):
    # generic MERGE INTO (upsert): matched keys take the source
    # row, unmatched source rows insert, committed as one
    # copy-on-write snapshot (reference upsert semantics
    # src/database/graph_database.py:137-183 generalized beyond
    # nodes/edges). Updates = every 7th customer (+1000 balance,
    # uppercased name); inserts = every 11th key shifted past the
    # key space.
    cust = _load(spark, sf, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_merge_"))
    t.write(cust, mode="overwrite", stage="load")
    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.upper("c_name").alias("c_name"),
        F.round(F.col("acctbal") + 1000, 2).alias("acctbal"))
    inserts = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("new#"), F.col("c_name")).alias("c_name"),
        F.lit(0.0).alias("acctbal"))
    t.merge(spark, updates.unionByName(inserts), ["c_custkey"])
    return t.read(spark)


@query(oracle="""
        SELECT user_id, event_type, count(*) AS n,
               round(sum(round(value, 6)::DECIMAL(18,6)), 4)::DOUBLE
                 AS total_value
        FROM events WHERE user_id <> 7
        GROUP BY 1, 2
    """)
def s_gdpr_erasure(spark, sf):
    # right-to-be-forgotten, end-to-end: erase ONE user from the
    # fact table (copy-on-write DELETE) AND from its derived
    # rollup (recomputed + overwrite-committed), then expire the
    # pre-delete snapshots so the bytes are PHYSICALLY reclaimed —
    # erasure isn't done while time travel can still resurrect the
    # user (asserted in-query: visible before, gone after, files
    # reclaimed). The oracle is the surviving rollup.
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        F.round("value", 6).alias("value"))
    facts = SnapshotTable(tempfile.mkdtemp(prefix="fkg_gdpr_f_"))
    facts.write(ev, mode="overwrite", stage="load")
    rollup = SnapshotTable(tempfile.mkdtemp(prefix="fkg_gdpr_r_"))

    def _rollup(df):
        return (df.groupBy("user_id", "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.sum(F.col("value")
                                   .cast("decimal(18,6)")), 4)
                     .cast("double").alias("total_value")))
    rollup.write(_rollup(facts.read(spark)), mode="overwrite",
                 stage="load")
    subject = 7
    pre = facts.read(spark).filter(
        F.col("user_id") == subject).count()
    assert pre > 0, "erasure subject must exist before the delete"
    facts.delete_where(spark, F.col("user_id") == subject)
    rollup.write(_rollup(facts.read(spark)), mode="overwrite",
                 stage="erase")
    for t in (facts, rollup):
        res = t.expire_snapshots(keep_last=1)
        assert res["bytes"] > 0, res       # physically reclaimed
        assert len(t.snapshots()) == 1     # no resurrecting travel
    assert facts.read(spark).filter(
        F.col("user_id") == subject).count() == 0
    return rollup.read(spark)


@query(oracle="""
        SELECT event_id, user_id, event_type,
               round(value, 2) AS value
        FROM events
    """)
def s_compact_optimize(spark, sf):
    # OPTIMIZE small files: 12 micro-batch-sized appends → one
    # compaction commit; the read-back after compaction must be
    # row-identical to the plain source (the oracle), and the
    # in-query asserts prove files actually shrank and time travel
    # still sees the pre-compact layout
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value"), 2).alias("value"))
    t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_compact_"))
    for i in range(12):
        t.write(ev.filter(F.col("event_id") % 12 == i).repartition(4),
                mode="append" if i else "overwrite", stage="ingest")
    pre_sid = t.current_snapshot()
    pre_files = len(t._manifest(pre_sid)["files"])
    t.compact(spark)
    post_files = len(t._manifest(t.current_snapshot())["files"])
    assert post_files < pre_files // 4, (pre_files, post_files)
    assert t.read(spark, pre_sid).count() == t.read(spark).count()
    return t.read(spark)


@query(oracle="""
        SELECT user_id % 100 AS cohort, event_type,
               count(*) AS n_rows,
               round(sum(value::DECIMAL(18,6)), 4)::DOUBLE AS sum_value,
               round(sum(value::DECIMAL(18,6))::DOUBLE / count(*), 6)
                 AS avg_value
        FROM events GROUP BY 1, 2
    """)
def mv_incremental_refresh(spark, sf):
    # incrementally-maintained materialized view: 3 CDC appends,
    # first refresh = full build, later refreshes fold ONLY the
    # appended files via the manifest diff (sources/matview.py);
    # exact decimal sums make the mergeable state hash-stable.
    # The final view must equal a direct GROUP BY over everything
    # (the oracle).
    ev = _load(spark, sf, "events").select(
        (F.col("user_id") % 100).alias("cohort"), "event_type",
        F.col("value").cast("decimal(18,6)").alias("value"),
        "event_id")
    root = tempfile.mkdtemp(prefix="fkg_mv_")
    src = SnapshotTable(os.path.join(root, "src"))
    mv = IncrementalMV(src, os.path.join(root, "mv"),
                       keys=["cohort", "event_type"],
                       sum_cols=["value"])
    for i in range(3):
        src.write(ev.filter(F.col("event_id") % 3 == i)
                  .drop("event_id"),
                  mode="append" if i else "overwrite", stage="cdc")
        mv.refresh(spark)
    assert mv.refresh(spark) == src.current_snapshot()  # no-op
    out = mv.read(spark)
    return out.select(
        "cohort", "event_type", "n_rows",
        F.round("sum_value", 4).cast("double").alias("sum_value"),
        F.round(F.col("sum_value").cast("double") / F.col("n_rows"),
                6).alias("avg_value"))


@query(oracle="""
        WITH du AS (SELECT DISTINCT event_type, user_id
                    FROM events WHERE user_id IS NOT NULL),
        h AS (SELECT event_type,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                     1, 15))::BIGINT AS hh
              FROM du),
        r AS (SELECT event_type, hh, row_number() OVER (
                PARTITION BY event_type ORDER BY hh) AS rn
              FROM h),
        g AS (SELECT event_type, count(*) AS nd,
                     max(CASE WHEN rn = 32 THEN hh END) AS kth
              FROM r GROUP BY 1),
        n AS (SELECT event_type, count(*) AS n_rows
              FROM events GROUP BY 1)
        SELECT n.event_type, n.n_rows,
               round(CASE WHEN g.kth IS NULL
                          THEN CAST(coalesce(nd, 0) AS DOUBLE)
                          ELSE 31.0 * 1152921504606846976.0
                               / CAST(kth AS DOUBLE) END, 4)
                 AS distinct_est
        FROM n LEFT JOIN g ON g.event_type = n.event_type
    """)
def mv_kmv_distinct(spark, sf):
    # approximate COUNT DISTINCT maintained INCREMENTALLY: the MV
    # keeps per-group KMV sketches (k smallest 60-bit value
    # hashes, ≤ k int64s of state per group) and folds each CDC
    # append with the associative k-smallest merge — the
    # distributed-sketch form kmv_distinct's docstring promises;
    # the merged estimate is bit-identical to a one-shot sketch
    # of everything (pinned in tests/test_matview.py), which is
    # exactly what the oracle replays
    ev = _load(spark, sf, "events").select(
        "event_type", "user_id", "event_id")
    root = tempfile.mkdtemp(prefix="fkg_mvkmv_")
    src = SnapshotTable(os.path.join(root, "src"))
    mv = IncrementalMV(src, os.path.join(root, "mv"),
                       keys=["event_type"], sum_cols=[],
                       distinct_cols=["user_id"], kmv_k=32)
    for i in range(3):
        src.write(ev.filter(F.col("event_id") % 3 == i)
                  .drop("event_id"),
                  mode="append" if i else "overwrite", stage="cdc")
        mv.refresh(spark)
    return mv.read(spark).select(
        "event_type", "n_rows",
        F.round("distinct_est_user_id", 4).alias("distinct_est"))


@query(oracle="""
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        FROM customer WHERE NOT (c_custkey % 3 = 0)
    """)
def s_expire_vacuum(spark, sf):
    # retention: copy-on-write DELETE rewrite, then expire the
    # pre-delete snapshot — its files are unreferenced and must be
    # physically reclaimed (bytes > 0 asserted in-query); the
    # surviving content is the oracle
    cust = _load(spark, sf, "customer").select(
        "c_custkey", "c_name",
        F.round("c_acctbal", 2).alias("acctbal"))
    t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_expire_"))
    t.write(cust, mode="overwrite", stage="load")
    t.delete_where(spark, F.col("c_custkey") % 3 == 0)
    res = t.expire_snapshots(keep_last=1)
    assert res["expired"] == [1] and res["bytes"] > 0, res
    assert len(t.snapshots()) == 1
    return t.read(spark)


@query(oracle="""
        SELECT c_custkey, c_name,
               round(greatest(round(c_acctbal, 2), 0.0), 2) AS acctbal
        FROM customer
    """)
def s_wap_publish(spark, sf):
    # write-audit-publish: the candidate commit stays invisible
    # while the audit runs against its snapshot; publish is one
    # atomic pointer move. Audit gate: no negative balances
    # (violators clamped in the fixed batch). count_rows =
    # metadata-only COUNT(*) from footers, asserted against the
    # published state.
    cust = _load(spark, sf, "customer").select(
        "c_custkey", "c_name",
        F.round("c_acctbal", 2).alias("acctbal"))
    t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_wap_"))
    t.write(cust, mode="overwrite", stage="load")
    candidate = cust.withColumn(
        "acctbal", F.round(F.greatest(F.col("acctbal"), F.lit(0.0)),
                           2))
    sid = t.write_staged(candidate, stage="candidate")
    assert t.current_snapshot() == 1            # still unpublished
    assert t.read(spark, sid).filter(
        F.col("acctbal") < 0).count() == 0      # audit passes
    t.publish(sid)
    assert t.count_rows() == cust.count()       # metadata COUNT(*)
    return t.read(spark)


@query(oracle="""
        SELECT c_custkey + 2000000 AS c_custkey,
               'c#' || c_name AS c_name,
               round(c_acctbal, 2) AS acctbal, 'insert' AS op
        FROM customer WHERE c_custkey % 9 = 0
        UNION ALL
        SELECT c_custkey, c_name, round(c_acctbal, 2), 'delete'
        FROM customer WHERE c_custkey % 4 = 0
    """)
def s_snapshot_diff(spark, sf):
    # full CDC between snapshots including a rewrite: delete every
    # 4th customer (copy-on-write), append clone rows, then diff
    # vs the original snapshot — deletes AND inserts both surface
    # (incremental_read alone would refuse across the rewrite)
    cust = _load(spark, sf, "customer").select(
        "c_custkey", "c_name",
        F.round("c_acctbal", 2).alias("acctbal"))
    t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_diff_"))
    t.write(cust, mode="overwrite", stage="load")
    t.delete_where(spark, F.col("c_custkey") % 4 == 0)
    clones = cust.filter(F.col("c_custkey") % 9 == 0).select(
        (F.col("c_custkey") + 2_000_000).alias("c_custkey"),
        F.concat(F.lit("c#"), F.col("c_name")).alias("c_name"),
        "acctbal")
    t.write(clones, mode="append", stage="late")
    return t.diff(spark, from_snapshot=1)


@query(oracle="""
        WITH langs AS (SELECT ['en','de','fr','es','zh'] AS ls),
        rows_g AS (
          SELECT i AS doc_id,
                 ls[(('0x' || substr(md5('synth:lang:' || i::VARCHAR),
                                     1, 15))::BIGINT % 5)::INT + 1]
                   AS lang,
                 (('0x' || substr(md5('synth:score:' || i::VARCHAR),
                                  1, 15))::BIGINT % 1000000)::DOUBLE
                   / 1000000.0 AS score
          FROM unnest(generate_series(0, 1999)) t(i), langs)
        SELECT lang, count(*) AS n_docs,
               round(sum(score), 6) AS score_sum
        FROM rows_g GROUP BY 1
    """)
def s_python_datasource(spark, sf):
    # Spark 4 Python Data Source API (sources/pysource.py): a
    # registered custom connector with REAL driver-side split
    # planning (8 input partitions over the key range) and
    # executor-side generation; the row contract is a pure md5
    # function of the row id, so the oracle replays the ENTIRE
    # source with generate_series + identical hash arithmetic —
    # schema, options, partition planning and per-split reads are
    # what this checks.
    register(spark)
    df = (spark.read.format("fkg_synth")
          .option("n", 2000).option("partitions", 8).load())
    return (df.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.sum("score"), 6).alias("score_sum"))
            .orderBy("lang"))
