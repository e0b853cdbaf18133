"""Grouped top-k (W1-W3 in SURVEY §2.E).

Spark's window + row_number compiles to a partial top-k per map task
under AQE, so no custom operator is needed; this helper just pins the
deterministic tie-break convention used across the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def grouped_top_k(df: DataFrame, keys: list[str], order: list,
                  k: int, tie_breaks: list | None = None) -> DataFrame:
    """Keep the top-k rows per group. ``order`` are Column sort
    expressions (e.g. [F.desc('weight')]); deterministic tie-breaks
    appended so re-runs are byte-identical."""
    w = Window.partitionBy(*keys).orderBy(*order, *(tie_breaks or []))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


def grouped_dense_rank(df: DataFrame, group_col: str, order_col: str,
                       out_col: str = "rnk") -> DataFrame:
    """Distributed 1-based contiguous rank of ``order_col`` within
    each group over an already-distinct (group, order) relation — the
    scale path for ranking an ENTITY-SIZED vocabulary, where
    ``row_number().over(Window.partitionBy(group))`` would funnel a
    whole group through one task (a 10^8-product ``complements``
    vocabulary in one window partition is the textbook straggler).

    Two passes, both skew-free: range-shuffle on (group, order) so
    each group spans contiguous partitions; per-(partition, group)
    counts collect to the driver (bounded by #partitions + #groups
    rows — partition metadata, not data); each row's global rank is
    its partition-local row_number plus the exclusive prefix sum of
    its group's counts in earlier partitions. Range boundaries are
    sampling-dependent, but the OUTPUT is not: offsets correct the
    global rank whatever the boundary placement.

    Returns (group_col, order_col, out_col) with out_col dense in
    [1, group size] ordered by ``order_col`` ascending.
    """
    d = df.select(group_col, order_col).distinct() \
        .repartitionByRange(group_col, order_col) \
        .withColumn("__pid", F.spark_partition_id()) \
        .localCheckpoint(eager=True)   # pin partitioning: counts and
    # ranks must see the SAME placement (a recompute may resample
    # range boundaries)
    counts = (d.groupBy("__pid", group_col)
              .agg(F.count(F.lit(1)).alias("__n"))
              .collect())
    by_group: dict = {}
    for r in sorted(counts, key=lambda r: (r[group_col], r["__pid"])):
        by_group.setdefault(r[group_col], []).append((r["__pid"], r["__n"]))
    offs = []
    for g, lst in by_group.items():
        acc = 0
        for pid, n in lst:
            offs.append((pid, g, acc))
            acc += n
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offs, f"__pid int, {group_col} string, __off bigint")
    w = Window.partitionBy("__pid", group_col).orderBy(order_col)
    return (d.withColumn("__r", F.row_number().over(w))
            .join(F.broadcast(off_df), ["__pid", group_col])
            .select(group_col, order_col,
                    (F.col("__r") + F.col("__off")).alias(out_col)))


def _range_ranked(df: DataFrame, order_cols: list):
    """Shared two-pass machinery for global rank/prefix over a TOTAL
    order (``order_cols`` must tie-break to uniqueness, so the result
    is boundary-invariant): repartitionByRange on the sort key, pin
    the layout (localCheckpoint — both passes must see the SAME
    partitioning), count rows per range partition, and broadcast the
    partition-count-sized offset table back; the range partition
    count is ``spark.sql.shuffle.partitions``. Returns
    (pinned_df_with __pid, offsets_df(__pid, __off), total_rows)."""
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = (df.repartitionByRange(n, *order_cols)
         .withColumn("__pid", F.spark_partition_id())
         .localCheckpoint(eager=True))
    sizes = {r["__pid"]: r["c"] for r in
             d.groupBy("__pid").agg(F.count(F.lit(1)).alias("c"))
             .collect()}
    acc, offs = 0, []
    for pid in sorted(sizes):
        offs.append((pid, acc))
        acc += sizes[pid]
    odf = spark.createDataFrame(offs or [(0, 0)],
                                "__pid int, __off long")
    return d, odf, acc


def global_rank(df: DataFrame, order_cols: list,
                out_col: str = "rn") -> DataFrame:
    """Distributed global ``row_number`` over a total order — the
    replacement for ``row_number().over(Window.orderBy(...))``, whose
    unpartitioned window serializes the whole relation into ONE task.
    Here the sort runs inside range partitions (each a bounded
    slice) and global positions come from adding the broadcast
    per-partition row-count prefix; output is identical because the
    order is total."""
    d, odf, _ = _range_ranked(df, order_cols)
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return (d.join(F.broadcast(odf), "__pid")
            .withColumn(out_col, (F.row_number().over(w)
                                  + F.col("__off")).cast("long"))
            .drop("__pid", "__off"))


def ntile_distributed(df: DataFrame, order_cols: list, k: int,
                      out_col: str = "tile") -> DataFrame:
    """Exact SQL ``ntile(k)`` semantics (first ``N mod k`` tiles get
    the extra row) from the distributed global rank — bucket sizes
    and boundaries match ``F.ntile`` bit-for-bit under the same total
    order, without the single-task window."""
    d, odf, total = _range_ranked(df, order_cols)
    big = -(-total // k)                   # ceil
    small = total // k
    r = total - small * k                  # tiles that get ceil size
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    ranked = (d.join(F.broadcast(odf), "__pid")
              .withColumn("__rn", (F.row_number().over(w)
                                   + F.col("__off")).cast("long")))
    if small == 0:                          # N < k: one row per tile
        tile_expr = "__rn"
    else:
        # exact integer arithmetic (div), no float rounding at any N
        tile_expr = (f"IF(__rn <= {r * big}, "
                     f"(__rn - 1) div {big} + 1, "
                     f"{r} + (__rn - 1 - {r * big}) div {small} + 1)")
    return (ranked.withColumn(out_col,
                              F.expr(tile_expr).cast("int"))
            .drop("__pid", "__off", "__rn"))


def global_prefix_sum(df: DataFrame, order_cols: list,
                      value_col: str, out_col: str = "cum") -> DataFrame:
    """Distributed running sum of ``value_col`` over a total order
    (inclusive frame): per-range-partition window cumsum plus the
    broadcast prefix of per-partition sums. Value type is preserved
    (DECIMAL stays exact)."""
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = (df.repartitionByRange(n, *order_cols)
         .withColumn("__pid", F.spark_partition_id())
         .localCheckpoint(eager=True))
    per = d.groupBy("__pid").agg(F.sum(value_col).alias("__s"))
    rows = sorted(per.collect(), key=lambda r: r["__pid"])
    stype = per.schema["__s"].dataType
    acc, offs = None, []
    for r in rows:
        offs.append((r["__pid"], acc))
        acc = r["__s"] if acc is None else acc + r["__s"]
    from pyspark.sql.types import (IntegerType, StructField,
                                   StructType)
    odf = spark.createDataFrame(
        offs or [(0, None)],
        StructType([StructField("__pid", IntegerType()),
                    StructField("__soff", stype)]))
    w = (Window.partitionBy("__pid").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, 0))
    return (d.join(F.broadcast(odf), "__pid")
            .withColumn(out_col,
                        F.sum(value_col).over(w)
                        + F.coalesce(F.col("__soff"),
                                     F.lit(0).cast(stype)))
            .drop("__pid", "__soff"))
