"""Deterministic hash-based sampling: domain mixing + dataset splits.

Pretraining pipelines need REPRODUCIBLE sampling: corpus mixing
weights (The Pile / Llama-style per-domain sampling ratios) and
train/val/test splits must be stable across reruns, cluster sizes and
partitionings — ``rand()``-based sampling is none of those (Spark's
``df.sample`` is seed-stable only for a fixed partitioning). Every
decision here is a pure function of ``(salt, key)``:
``md5(salt:key)`` → 60-bit integer → compare against a precomputed
integer threshold. No RNG state, no shuffle, pure whole-stage-codegen
projection+filter — at 100 TB this runs at scan speed and composes
with column pruning and partition pruning on the domain column.

The 60-bit hash is the repo's shared portable convention
(``functions/text.shingle_hash``): Spark
``conv(substr(md5(x),1,15),16,10)`` ≡ DuckDB
``('0x' || substr(md5(x),1,15))::BIGINT``, so the driver oracle
replays sampling decisions bit-exactly. Thresholds are precomputed in
Python as integers (``rate * 2^60``) and embedded as literals in BOTH
engines — no float comparison ever happens distributed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_SPACE = 1 << 60          # md5[:15 hex] = 60 uniform bits


def rate_threshold(rate: float) -> int:
    """Integer keep-threshold for a rate in [0, 1]."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return int(rate * HASH_SPACE)


def sample_hash(key_col: Column | str, salt: str) -> Column:
    """Uniform 60-bit integer, a pure function of (salt, key)."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    s = F.concat_ws(":", F.lit(salt), key.cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def domain_sample(df: DataFrame, key_col: str, domain_col: str,
                  rates: dict[str, float], salt: str = "mix") -> DataFrame:
    """Keep each row with its domain's probability, deterministically:
    row survives iff ``sample_hash(salt, key) < rate[domain] * 2^60``.
    Domains absent from ``rates`` get rate 0.0. Rate 1.0 keeps
    everything (threshold = 2^60 > any hash), 0.0 nothing."""
    thr = F.lit(rate_threshold(0.0))
    for dom, rate in sorted(rates.items()):
        thr = F.when(F.col(domain_col) == dom,
                     F.lit(rate_threshold(rate))).otherwise(thr)
    return df.filter(sample_hash(key_col, salt) < thr)


def hash_split(df: DataFrame, key_col: str,
               weights: dict[str, float], salt: str = "split",
               split_col: str = "split") -> DataFrame:
    """Assign every row to exactly one named split by cumulative
    integer thresholds over the same 60-bit hash (insertion order of
    ``weights`` defines the bands; weights must sum to 1). Disjoint
    and exhaustive by construction; membership of a key never changes
    when data is added, repartitioned, or reprocessed."""
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1")
    names = list(weights)
    cuts, acc = [], 0.0
    for name in names[:-1]:
        acc += weights[name]
        cuts.append(rate_threshold(acc))
    # materialize the hash once per row (a literal-threshold CASE over
    # it is free; re-evaluating md5 per band is not)
    hcol = f"__{split_col}_hash"
    h = F.col(hcol)
    expr = F.lit(names[-1])
    for name, cut in zip(reversed(names[:-1]), reversed(cuts)):
        expr = F.when(h < cut, F.lit(name)).otherwise(expr)
    return (df.withColumn(hcol, sample_hash(key_col, salt))
            .withColumn(split_col, expr).drop(hcol))


def weighted_sample_k(df: DataFrame, key_col: str, weight_col: str,
                      k: int, by: list[str] | None = None,
                      salt: str = "wsample") -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group
    (Efraimidis–Spirakis A-ES): rank every row by ``ln(u) / w`` with
    ``u`` uniform in (0, 1] and keep the k largest — each row's
    inclusion probability is proportional to its weight, exactly the
    one-pass distributed form (a weighted reservoir is its streaming
    twin). ``u`` comes from the portable 60-bit md5 hash, so the
    sample is a pure function of (salt, key): reproducible across
    reruns/partitionings and bit-identical in the SQL oracle — the
    property rand()-based weighted sampling cannot give.

    Rows with weight <= 0 or NULL are excluded (zero mass). One
    window shuffle on ``by`` (or a single global group for by=None —
    fine for k-sized outputs, use grouped mode at scale).
    """
    from pyspark.sql import Window

    u = (sample_hash(key_col, salt) + F.lit(1)).cast("double") \
        / F.lit(float(HASH_SPACE))
    key = F.log(u) / F.col(weight_col).cast("double")
    out = df.filter(F.col(weight_col).isNotNull()
                    & (F.col(weight_col) > 0)) \
        .withColumn("__es_key", key)
    if not by:
        # ungrouped: orderBy+limit (TakeOrderedAndProject per-
        # partition heaps) — a global rank window would funnel the
        # whole corpus into one task
        return (out.orderBy(F.desc("__es_key"), F.asc(key_col))
                .limit(k).drop("__es_key"))
    w = Window.partitionBy(*by).orderBy(
        F.desc("__es_key"), F.asc(key_col))
    return (out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__es_key", "__rn"))


def temperature_weights(df: DataFrame, domain_col: str,
                        alpha: float = 0.7,
                        budget: int | None = None) -> DataFrame:
    """Temperature-scaled domain mixing weights →
    ``(domain_col, n_docs, weight[, expected_docs])``.

    w_i = n_i^α / Σ_j n_j^α — the multilingual/multi-domain sampling
    rule (α < 1 upsamples the tail, α = 1 is proportional, α = 0 is
    uniform; the mBERT/XLM-R exponential-smoothing recipe, Conneau &
    Lample 2019). With ``budget`` the expected per-domain draw
    count ``budget · w_i`` rides along — the number a downstream
    ``domain_sample`` pass would be configured with.

    Plan: one partial-agg'd count per domain (the only pass over the
    data), then a broadcast of the domain-sized count table against
    its own scalar total — at 100 TB the big table is touched once;
    everything after is dim-sized. pow() is libm-identical across
    engines; callers round before hashing regardless.
    """
    # dim-sized after the agg — checkpoint so the scalar-total branch
    # below doesn't re-scan the (100 TB) base table a second time
    counts = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs")).localCheckpoint(eager=True)
    powed = counts.select(
        domain_col, "n_docs",
        F.pow(F.col("n_docs").cast("double"), F.lit(alpha)).alias("__p"))
    tot = powed.agg(F.sum("__p").alias("__tot"))
    out = powed.crossJoin(F.broadcast(tot)).select(
        domain_col, "n_docs",
        (F.col("__p") / F.col("__tot")).alias("weight"))
    if budget is not None:
        out = out.withColumn(
            "expected_docs",
            F.round(F.col("weight") * F.lit(float(budget)), 6))
    return out


def _poisson1_thresholds() -> list[float]:
    """Cumulative Poisson(1) CDF values P(X ≤ k), k = 0..8, as
    plain floats — both engines parse the identical literals to the
    identical doubles, so the inverse-CDF CASE is bit-portable."""
    import math
    acc, fact, out = 0.0, 1.0, []
    for k in range(9):
        if k > 0:
            fact *= k
        acc += math.exp(-1.0) / fact
        out.append(acc)
    return out


def poisson_bootstrap_mean(df: DataFrame, id_col: str,
                           value_col: str, b: int = 64,
                           salt: str = "boot") -> DataFrame:
    """Deterministic Poisson bootstrap CI for the mean → ONE row
    ``(n, point_mean, ci_lo, ci_hi)`` (95% percentile interval over
    ``b`` replicates).

    The scale-standard bootstrap (Chamandy et al., Google 2012):
    instead of resampling n rows WITH replacement (a global shuffle
    per replicate), each row draws an independent Poisson(1) weight
    per replicate — the multinomial's limit — so ALL ``b`` replicates
    ride ONE map pass (row → b weighted copies) into one
    partial-agg'd groupBy(replicate). Weights come from the md5
    uniform through the Poisson(1) inverse CDF (literal thresholds,
    engine-portable), so the "randomness" is reproducible and the
    SQL replay exact. value sums accumulate as DECIMAL — order-free;
    the replicate means and the final quantile_cont/percentile lane
    (parity-proven elsewhere in this repo) are the only float steps.
    """
    ths = _poisson1_thresholds()
    u = sample_hash(
        F.concat_ws(":", F.col("b"), F.col("id")), salt) \
        / F.lit(float(HASH_SPACE))
    w = F.lit(len(ths))
    for k in range(len(ths) - 1, -1, -1):
        w = F.when(u < F.lit(ths[k]), F.lit(k)).otherwise(w)
    reps = (df.select(F.col(id_col).cast("string").alias("id"),
                      F.col(value_col).cast("decimal(18,6)")
                      .alias("y"))
            .filter(F.col("y").isNotNull())
            .select("id", "y",
                    F.explode(F.array([F.lit(i) for i in range(b)]))
                    .alias("b"))
            .withColumn("w", w))
    means = (reps.groupBy("b")
             .agg((F.sum(F.col("y") * F.col("w")).cast("double")
                   / F.nullif(F.sum("w"), F.lit(0)))
                  .alias("m")))
    point = df.select(F.col(value_col).cast("decimal(18,6)")
                      .alias("y")) \
        .filter(F.col("y").isNotNull()) \
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum("y").cast("double") / F.count(F.lit(1)))
             .alias("point_mean"))
    ci = means.agg(
        F.expr("percentile(m, 0.025)").alias("ci_lo"),
        F.expr("percentile(m, 0.975)").alias("ci_hi"))
    return (point.crossJoin(ci)
            .select(F.col("n").cast("long").alias("n"),
                    F.round("point_mean", 6).alias("point_mean"),
                    F.round("ci_lo", 6).alias("ci_lo"),
                    F.round("ci_hi", 6).alias("ci_hi")))
