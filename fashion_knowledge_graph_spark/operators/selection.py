"""Greedy maximum-coverage subset selection (budgeted corpus picking).

The training-data shape: "choose k documents that together cover the
most vocabulary" — the classic (1−1/e)-approximate greedy for the
submodular max-coverage objective (Nemhauser et al. 1978), the same
family as facility-location corpus selection.

Execution shape: k rounds; each round is one distributed
count-uncovered-per-doc aggregation (anti-join vs the covered set,
partial-agg'd groupBy, TakeOrderedAndProject top-1) and the ONLY
driver-side state is the k picked ids and the covered-token set kept
as a DataFrame (checkpointed each round so lineage stays flat). k is
small by construction — the loop is O(k) Spark jobs, never per-row
driver work. At 100 TB the per-round aggregate is the exact same plan
as a word-count; covered tokens live distributed, never collected.

Determinism: ties on coverage break on ascending doc id, so re-runs
are byte-identical and the whole greedy trace replays as k unrolled
SQL stages (the driver oracle does exactly that).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def greedy_max_coverage(doc_tokens: DataFrame, k: int) -> DataFrame:
    """``(id, token)`` pairs → the greedy k-pick trace:
    ``(rank, doc_id, new_tokens, total_covered)``.

    ``new_tokens`` is the marginal gain of the pick; ``total_covered``
    the running union size. Input need not be distinct — it is
    deduplicated once up front.
    """
    t = (doc_tokens.select(F.col("doc_id").alias("id"), "tok")
         .distinct().localCheckpoint())
    covered = None  # DataFrame of (tok)
    out = []
    total = 0
    for rank in range(1, k + 1):
        u = t if covered is None else \
            t.join(covered, "tok", "left_anti")
        pick = (u.groupBy("id").agg(F.count(F.lit(1)).alias("gain"))
                .orderBy(F.desc("gain"), F.asc("id")).limit(1)
                .first())
        if pick is None:
            break  # everything covered
        gain = pick["gain"]
        total += gain
        out.append((rank, pick["id"], gain, total))
        new_toks = (u.filter(F.col("id") == pick["id"])
                    .select("tok"))
        covered = new_toks if covered is None else \
            covered.unionAll(new_toks)
        covered = covered.localCheckpoint()
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )
    schema = StructType([
        StructField("rank", IntegerType()),
        StructField("doc_id", t.schema["id"].dataType),
        StructField("new_tokens", LongType()),
        StructField("total_covered", LongType())])
    return doc_tokens.sparkSession.createDataFrame(out, schema)


def dsir_log_weights(docs: DataFrame, target_pred,
                     buckets: int = 64, salt: str = "dsir",
                     k: int = 50) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling").

    Features are hashed unigrams: token -> portable 60-bit md5 bucket
    (``sampling.sample_hash``) mod ``buckets`` — the same hash the
    driver oracle replays in SQL. The per-doc weight is

        sum_tokens [ ln (tgt[b]+1)/(T+B)  -  ln (raw[b]+1)/(R+B) ]

    i.e. log p_target(doc) - log p_raw(doc) under add-one-smoothed
    hashed-unigram bag models — positive = looks like the target
    distribution, the resampling key of DSIR.

    Plan shape: one exploded token pass builds BOTH histograms
    (conditional agg over the same rows), the bucket->weight dim is
    ``buckets`` rows (broadcast), scoring is a partial-agg'd groupBy —
    the only corpus-sized shuffle is the per-doc sum. Top-k by weight
    desc, ties on doc id.
    """
    from ..functions.text import tokens
    from .sampling import sample_hash

    base = (docs.filter(F.col("text").isNotNull())
            .withColumn("__tgt", target_pred.cast("int")))
    tok = base.select(
        F.col("doc_id").alias("id"), F.col("lang"), F.col("__tgt"),
        F.explode(tokens(F.col("text"))).alias("w")
    ).select("id", "lang", "__tgt",
             (sample_hash("w", salt) % buckets).alias("b"))
    # 64-row histogram: localCheckpoint so the corpus-sized token pass
    # behind it runs ONCE (it feeds both `tot` and `dim`; without the
    # pin Catalyst re-derives each subtree from the scan — measured as
    # an extra full token explode+shuffle)
    hist = (tok.groupBy("b")
            .agg(F.count(F.lit(1)).alias("raw_b"),
                 F.sum("__tgt").alias("tgt_b"))).localCheckpoint()
    tot = hist.agg(F.sum("raw_b").alias("r_tot"),
                   F.sum("tgt_b").alias("t_tot"))
    dim = (hist.crossJoin(F.broadcast(tot))
           .select("b",
                   (F.log((F.col("tgt_b") + 1).cast("double")
                          / (F.col("t_tot") + buckets).cast("double"))
                    - F.log((F.col("raw_b") + 1).cast("double")
                            / (F.col("r_tot") + buckets)
                            .cast("double"))).alias("lw")))
    return (tok.join(F.broadcast(dim), "b")
            .groupBy(F.col("id").alias("doc_id"), "lang")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.sum("lw"), 6).alias("dsir_logw"))
            .orderBy(F.desc("dsir_logw"), F.asc("doc_id"))
            .limit(k))
