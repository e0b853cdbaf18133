"""Helpers shared by several query families: the table loader, the
repartitioned documents scan, the DuckDB text normalization and the SQL
fragments more than one family's oracles embed."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _norm_sql(col: str) -> str:
    """DuckDB text normalization matching functions/text.py::norm_text."""
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"


def _toks_sql(col: str) -> str:
    return (f"list_filter(string_split({_norm_sql(col)}, ' '), "
            "t -> t <> '')")


toks = _toks_sql("text")

# k-means: 2 Lloyd updates + final assignment, K=8, init = the 8
# smallest vec_ids, argmin ties toward the smaller centroid id —
# the exact algorithm of operators/clustering.py::kmeans_assign
# (DOUBLE[] casts for the same reason as embedding_near_dup)
km_assign = """
        a{K} AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.v, c.v) ASC, c.cid ASC) AS rn
          FROM e CROSS JOIN c{P} c) WHERE rn = 1)"""
km_update = """
        m{K} AS (SELECT a{P}.cid, t.dim, avg(e.v[t.dim]) AS mv
          FROM e JOIN a{P} USING (vec_id)
          CROSS JOIN range(1, 65) t(dim)
          GROUP BY 1, 2),
        c{K} AS (SELECT c{P}.cid, coalesce(ml.v, c{P}.v) AS v
          FROM c{P} LEFT JOIN (SELECT cid, list(mv ORDER BY dim) AS v
                               FROM m{K} GROUP BY cid) ml USING (cid))"""


def _docs_split(spark, sf):
    # the testdata documents table is one parquet file = one scan
    # task; spread it so the dedup kernels/aggregations use the
    # whole session (at corpus scale the input arrives in
    # thousands of splits and this repartition disappears)
    return _load(spark, sf, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
