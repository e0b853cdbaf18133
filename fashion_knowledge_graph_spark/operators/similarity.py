"""Approximate-nearest-neighbor search over an embedding column.

Three physical strategies with identical logical semantics
(per-query top-k by cosine, deterministic tie-break on corpus id):

- ``cosine_topk``   — brute force: broadcast the query side (queries
                      are almost always ≪ corpus), exact cosine against
                      every corpus row, window top-k. Exact; the oracle
                      for the other two. O(|Q|·|C|) but embarrassingly
                      parallel — the corpus never shuffles, only the
                      k·|Q| result rows do.
- ``lsh_topk``      — sign-LSH banded blocking (same machinery as the
                      entity-linking join, operators/linking.py, and
                      the near-duplicate self-join,
                      components.near_duplicate_pairs), exact re-rank
                      inside candidate blocks. Sub-linear candidates;
                      recall tuned by (nbits, nbands).
- ``ivf_topk``      — IVF: deterministically sampled centroids,
                      corpus assigned to nearest centroid (one pass),
                      queries probe the ``nprobe`` nearest centroids
                      → equi-join on centroid id → exact re-rank.
                      The classic billion-scale layout: the corpus is
                      *partitioned by centroid* so a probe touches
                      nprobe/ncentroids of the data.

Scale notes: all strategies keep the corpus un-shuffled (broadcast
queries / broadcast centroids); only candidates shuffle for the
top-k window, and AQE coalesces those. ``vec`` arrays stay float;
scores accumulate in double.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _rerank(cand: DataFrame, k: int) -> DataFrame:
    """Exact cosine + per-query top-k with deterministic tie-break.

    The cosine runs in the shared Arrow kernel (``linking._dot_arrow``
    with ``cosine=True``) — the round-2 Catalyst ``aggregate``/
    ``zip_with`` form was interpreted per element, the exact
    anti-pattern already eliminated from linking/dedup, and this
    re-rank is the hot loop of ALL three ANN strategies (candidates ×
    dim lambda evals). The kernel also drops both vectors, so the
    top-k window shuffle moves narrow (query, corpus, score) rows.
    """
    from .linking import _dot_arrow

    scored = _dot_arrow(cand, "q_vec", "c_vec", "score", cosine=True)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "rank", "score"))


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                q_id: str = "vec_id", q_vec: str = "embedding",
                c_id: str = "vec_id", c_vec: str = "embedding") -> DataFrame:
    """Exact brute-force top-k. Query side broadcast; self-matches
    (same id) excluded when querying the corpus against itself."""
    q = queries.select(F.col(q_id).alias("query_id"),
                       F.col(q_vec).alias("q_vec"))
    c = corpus.select(F.col(c_id).alias("corpus_id"),
                      F.col(c_vec).alias("c_vec"))
    cand = c.join(F.broadcast(q),
                  F.col("query_id") != F.col("corpus_id"), "inner")
    return _rerank(cand, k)


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             nbits: int = 64, nbands: int = 16) -> DataFrame:
    """Sign-LSH banded candidates, exact re-rank. Recall depends on the
    angle distribution; report it against ``cosine_topk`` in tests."""
    from ..functions.embeddings import make_signature_udf

    sig = make_signature_udf(nbits, nbands, "ann-lsh")
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec"))
    c = corpus.select(F.col("vec_id").alias("corpus_id"),
                      F.col("embedding").alias("c_vec"))
    # two-phase narrow-row plan (same as linking.link_lsh): the banded
    # join replicates each side nbands× — vectors must NOT ride it
    # (id + band keys only); candidates re-join their vectors BY ID for
    # the exact re-rank
    qb = q.withColumn("sigs", sig("q_vec")) \
        .select("query_id", F.posexplode("sigs").alias("band", "bkey"))
    cb = c.withColumn("sigs", sig("c_vec")) \
        .select("corpus_id", F.posexplode("sigs").alias("band", "bkey"))
    cand = qb.join(cb, ["band", "bkey"]) \
        .filter(F.col("query_id") != F.col("corpus_id")) \
        .select("query_id", "corpus_id") \
        .dropDuplicates(["query_id", "corpus_id"])
    paired = cand.join(q, "query_id").join(c, "corpus_id")
    return _rerank(paired, k)


def hard_negatives(df: DataFrame, k: int = 5,
                   queries: DataFrame | None = None) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar items with a DIFFERENT label — the examples an
    embedding model learns the most from (random negatives are too
    easy; BM25/ANN-mined hard negatives are the standard recipe for
    dense retrievers). Same physical shape as ``cosine_topk`` —
    queries broadcast, corpus un-shuffled, Arrow dot kernel, narrow
    top-k window — with the label-mismatch predicate folded into the
    broadcast join."""
    qsrc = queries if queries is not None else df
    q = qsrc.select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("q_vec"),
                    F.col("label").alias("q_label"))
    c = df.select(F.col("vec_id").alias("corpus_id"),
                  F.col("embedding").alias("c_vec"),
                  F.col("label").alias("c_label"))
    cand = c.join(F.broadcast(q),
                  (F.col("query_id") != F.col("corpus_id"))
                  & (F.col("q_label") != F.col("c_label")), "inner") \
        .drop("q_label", "c_label")
    return _rerank(cand, k)


def _centroids(corpus: DataFrame,
               ncentroids: int) -> list[tuple[int, list[float]]]:
    """Deterministic centroid sample: the ``ncentroids`` corpus rows
    with the smallest ids (no RNG — resume-safe, test-stable). At real
    scale swap for a k-means|| pass; the operator contract (centroid_id
    assignment + probe join) is unchanged."""
    rows = (corpus.select(F.col("vec_id").alias("id"),
                          F.col("embedding").alias("v"))
            .orderBy("id").limit(ncentroids).collect())
    return [(i, list(r["v"])) for i, r in enumerate(rows)]


def _assign_udf(cents: list[tuple[int, list[float]]], nprobe: int):
    mat = np.array([v for _, v in cents], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ mat.T                       # (n, ncentroids)
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(top.astype(np.int32)))

    return assign


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             ncentroids: int = 16, nprobe: int = 4) -> DataFrame:
    """IVF-flat: corpus partitioned by nearest centroid; each query
    probes its ``nprobe`` nearest centroids. recall→1 as nprobe→
    ncentroids; nprobe=ncentroids is exhaustive (== cosine_topk)."""
    cents = _centroids(corpus, ncentroids)
    assign1 = _assign_udf(cents, 1)
    assignp = _assign_udf(cents, nprobe)
    c = corpus.select(F.col("vec_id").alias("corpus_id"),
                      F.col("embedding").alias("c_vec")) \
        .withColumn("cent", F.element_at(assign1("c_vec"), 1))
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec")) \
        .withColumn("cent", F.explode(assignp("q_vec")))
    cand = c.join(F.broadcast(q), "cent") \
        .filter(F.col("query_id") != F.col("corpus_id")) \
        .dropDuplicates(["query_id", "corpus_id"]).drop("cent")
    return _rerank(cand, k)


def ranking_eval(ranked: DataFrame, truth: DataFrame,
                 ks: tuple[int, ...] = (1, 5, 10)) -> DataFrame:
    """Retrieval-quality datasheet: filtered MRR and hits@k of the
    true candidate(s) inside a ranked candidate list.

    ``truth`` holds (query, true-candidate) rows — one or more per
    query; ``ranked`` is any ranker's output (exact, LSH, IVF, PQ,
    int8 — they all emit (query_id, corpus_id, rank) here). A truth
    row absent from the ranked list contributes reciprocal rank 0 and
    misses every hits@k, so metrics are comparable across rankers
    with different candidate coverage.

    Scale shape: one equi-join of the label-sized truth table against
    the ranked list, one global aggregate — both partial-agg'd; no
    windows, no per-query collects. Returns ONE row:
    n_truth, mrr, hits_<k>... (all rates rounded to 6 places).
    """
    if not ks or any(k < 1 for k in ks):
        raise ValueError("ks must be positive ranks")
    j = truth.select("query_id", "corpus_id").join(
        ranked.select("query_id", "corpus_id", "rank"),
        on=["query_id", "corpus_id"], how="left")
    r = F.col("rank")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.round(F.avg(F.when(r.isNotNull(), F.lit(1.0) / r)
                          .otherwise(F.lit(0.0))), 6).alias("mrr")]
    for k in ks:
        aggs.append(F.round(F.avg(
            F.when(r <= k, F.lit(1.0)).otherwise(F.lit(0.0))), 6)
            .alias(f"hits_{k}"))
    return j.agg(*aggs)
