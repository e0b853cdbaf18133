"""Knowledge fusion: truth discovery over conflicting source claims.

A web-scale KG ingests the same (entity, attribute) assertion from
many sources of very different reliability; the construction pipeline
must pick ONE value per functional attribute and a confidence for it.
The reference resolves conflicts implicitly (last LLM response wins,
/root/reference/src/engine/process_social_media_images.py writes node
properties unconditionally); a production pipeline needs the explicit
estimator. This module implements the classic iterative
truth-discovery scheme (TruthFinder / Latent Credibility family,
simplified to the voting form): alternate between

  value score  = sum of the trust of the sources asserting it,
  source trust = fraction of the source's claims that agree with the
                 current consensus,

starting from uniform trust. A fixed, small round count keeps the
estimator deterministic and lets an ANSI-SQL oracle replay it by
unrolling the rounds.

Determinism contract: trust is QUANTIZED to an integer number of
``QUANTUM``-ths (floor((QUANTUM * matching) / total) in integer
arithmetic), so vote scores are exact integer sums — order-independent
across partitions and engines — and the (score, obj) tie-break is
exact rather than hostage to float summation order. Only the final
confidence ratio is a double, produced by one deterministic division.

Scale design: claims are the data-sized side and are touched only by
partial-agg'd aggregations keyed (subj, pred[, obj]) plus one
broadcast join per round — the source-trust table has one row per
SOURCE (thousands at web scale, never data-sized), so it is always
broadcast and the claim stream is never shuffled by source. Consensus
selection is ``max_by`` over a (score, obj) struct — a single
aggregation, no window sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANTUM = 1_000_000


def _consensus(weighted: DataFrame) -> DataFrame:
    """Winner per (subj, pred): max total weight, ties to max obj."""
    votes = (weighted.groupBy("subj", "pred", "obj")
             .agg(F.sum("w").alias("score"),
                  F.count(F.lit(1)).alias("n_sources")))
    best = (votes.groupBy("subj", "pred")
            .agg(F.max_by(
                F.struct(F.col("obj"), F.col("score"),
                         F.col("n_sources")),
                F.struct(F.col("score"), F.col("obj"))).alias("b"),
                F.sum("score").alias("denom")))
    return best.select(
        "subj", "pred",
        F.col("b.obj").alias("obj"),
        F.col("b.score").alias("score"),
        F.col("b.n_sources").alias("n_sources"),
        "denom")


def source_trust(claims: DataFrame, consensus: DataFrame) -> DataFrame:
    """Per-source accuracy against a consensus, in integer quanta:
    floor((QUANTUM * matching claims) / total claims).

    One aggregation over the claim stream; the output is source-sized
    (broadcastable by construction).
    """
    hit = (claims.join(
        consensus.select("subj", "pred", "obj")
        .withColumn("hit", F.lit(1)),
        ["subj", "pred", "obj"], "left"))
    agg = (hit.groupBy("source")
           .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("m"),
                F.count(F.lit(1)).alias("t")))
    return agg.select(
        "source",
        F.expr(f"({QUANTUM} * m) div t").cast("long").alias("w"))


def truth_discovery(claims: DataFrame, rounds: int = 2) -> DataFrame:
    """Iterative source-reliability consensus over distinct claims.

    Returns one row per (subj, pred): the winning obj, its normalized
    ``confidence`` (winner's trust mass / total trust mass asserted
    for that slot), the number of asserting sources, and the source
    count. ``rounds=1`` is plain majority vote; each further round
    re-weights votes by the trust learned from the previous
    consensus. Rounds are unrolled lazily; at production scale each
    round's trust table (source-sized) would be materialized, the
    claim stream is re-scanned once per round either way.
    """
    c = claims.select("source", "subj", "pred", "obj").distinct()
    trust = None
    cons = None
    for _ in range(rounds):
        w = (c.withColumn("w", F.lit(QUANTUM).cast("long"))
             if trust is None
             else c.join(F.broadcast(trust), "source"))
        cons = _consensus(w)
        trust = source_trust(c, cons)
    return cons.select(
        "subj", "pred", "obj",
        (F.col("score").cast("double")
         / F.col("denom").cast("double")).alias("confidence"),
        F.col("n_sources").cast("int").alias("n_sources"))


def source_reliability(claims: DataFrame) -> DataFrame:
    """The per-source audit row behind truth discovery: claim count,
    majority-consensus agreement count, and the quantized trust
    weight — the provenance datasheet a KB curator reviews before
    admitting a crawl host. Same shapes as ``truth_discovery``
    round 1: data-sized aggregations keyed (subj, pred[, obj]),
    source-sized output.
    """
    c = claims.select("source", "subj", "pred", "obj").distinct()
    cons = _consensus(c.withColumn("w", F.lit(QUANTUM).cast("long")))
    hit = c.join(
        cons.select("subj", "pred", "obj").withColumn("hit", F.lit(1)),
        ["subj", "pred", "obj"], "left")
    agg = (hit.groupBy("source")
           .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                .cast("long").alias("n_match"),
                F.count(F.lit(1)).alias("n_claims")))
    return agg.select(
        "source", "n_claims", "n_match",
        F.expr(f"({QUANTUM} * n_match) div n_claims").cast("long")
        .alias("w"))
