"""Link-prediction training data over the triple table: deterministic
corrupted-tail negative sampling.

KG-embedding training (TransE/DistMult-style) consumes each positive
(subj, pred, obj) with k corrupted negatives whose object is drawn
from the predicate's candidate vocabulary. The reference has no
training loop (it queries GPT-4o); this operator supplies the
batch-side data prep a production KG would train from.

Determinism contract: the draw is a pure function of
(salt, i, subj, pred, obj) through the repo's portable 60-bit md5
hash (operators/sampling.py::sample_hash), so negatives are
reproducible across reruns, partitionings, and cluster sizes, and the
DuckDB oracle replays them bit-for-bit. Scale shape: the vocabulary
is the closed attribute taxonomy (dimension-sized), shipped as a
literal map column — no join, no shuffle; the only exchange is the
final anti-join against the distinct positive set (which guarantees
sampled corruptions are true negatives, the standard filtered
negative sampling)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sampling import sample_hash


def negative_samples(triples: DataFrame,
                     vocab: dict[str, list[str]],
                     k: int = 1) -> DataFrame:
    """k corrupted-tail negatives per distinct positive triple.

    ``vocab`` maps predicate -> ordered candidate objects (the closed
    vocabulary; order is part of the determinism contract). Positives
    whose predicate is absent from ``vocab`` are skipped. For draw i,
    the candidate index is ``H60(neg, i:subj:pred:obj) mod n``; a
    draw landing on the positive object linearly re-probes one slot
    (deterministic), and any corruption that equals SOME true triple
    is dropped by the anti-join (filtered negative sampling), as is a
    re-probe that still equals the positive (n == 1 vocabularies).

    Returns (subj, pred, obj_neg, neg_ix).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not vocab:
        raise ValueError("vocab must name at least one predicate")
    for p, vs in vocab.items():
        if not vs:
            raise ValueError(f"empty vocabulary for predicate {p!r}")
        if len(set(vs)) != len(vs):
            raise ValueError(f"duplicate candidates for {p!r}")

    pos = (triples
           .select("subj", "pred", "obj")
           .filter(F.col("pred").isin(list(vocab)))
           .distinct())
    arr_map = F.create_map(*[x for p in sorted(vocab)
                             for x in (F.lit(p),
                                       F.array(*[F.lit(v)
                                                 for v in vocab[p]]))])
    e = (pos
         .withColumn("neg_ix", F.explode(F.array(
             *[F.lit(i) for i in range(k)])))
         .withColumn("__arr", arr_map[F.col("pred")]))
    n = F.size("__arr")
    h = sample_hash(F.concat_ws(":", F.col("neg_ix"), F.col("subj"),
                                F.col("pred"), F.col("obj")), "neg")
    idx = F.pmod(h, n).cast("int")
    first = F.element_at("__arr", idx + 1)
    reprobe = F.element_at("__arr", (F.pmod(idx + 1, n) + 1).cast("int"))
    neg = F.when(first == F.col("obj"), reprobe).otherwise(first)
    out = (e.withColumn("obj_neg", neg)
           .filter(F.col("obj_neg") != F.col("obj"))
           .select("subj", "pred", "obj_neg", "neg_ix"))
    return out.join(
        pos.select("subj", "pred", F.col("obj").alias("obj_neg")),
        on=["subj", "pred", "obj_neg"], how="left_anti")


def _lane(tag: str, col, j: int, salt: str):
    """Deterministic embedding lane in [-1, 1): the portable 60-bit
    md5 hash of (saltJ, role tag, string) scaled to the unit interval.
    Same double in Spark and DuckDB: int64→double cast, /2^60, *2, −1
    are all IEEE ops both engines perform identically."""
    h = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit(f"{salt}{j}"), F.lit(tag), col)), 1, 15),
        16, 10).cast("bigint")
    return h.cast("double") / F.lit(float(1 << 60)) * F.lit(2.0) \
        - F.lit(1.0)


def transe_entity_ranking(triples: DataFrame, dim: int = 8) -> DataFrame:
    """TransE-style filtered entity-ranking evaluation over the triple
    table — the standard KG-embedding benchmark protocol (score each
    positive's true object against every same-predicate candidate,
    rank by ascending ||h + r − t||², report per-predicate MRR and
    hits@k), run over deterministic hash-derived embeddings so the
    whole evaluation is a pure function of the triple set that a SQL
    oracle replays bit-for-bit.

    Embeddings: lane j of entity/relation string s is
    ``H60(saltJ:role:s) / 2^60 * 2 − 1`` (role ∈ ent|rel) — the
    stand-in regime the repo's model stand-ins use throughout (a real
    deployment swaps trained vectors in; every downstream op is
    dimension-agnostic). Filtered protocol: candidates that are true
    objects of the SAME (subj, pred) — other than the evaluated one —
    are removed before ranking (Bordes et al.'s "filtered" setting),
    via a per-(subj, pred) true-object set attached BEFORE the
    candidate explode. Ties (exactly equal distances) break on the
    candidate string, deterministically in both engines.

    Scale shape: the candidate vocabulary per predicate is
    attribute-taxonomy-sized → broadcast; lane hashes are whole-stage
    codegen (md5 + conv, no Python); the per-triple work is one
    |vocab|-wide explode. Shuffles: the distinct, the fan-out agg
    (same key, co-partitioned join), and the rank aggregation — all
    keyed on the triple stream, none pairwise. Output:
    (pred, n_test, mrr, hits_at_1, hits_at_3, mean_rank).
    """
    import operator
    from functools import reduce

    if dim < 1:
        raise ValueError("dim must be >= 1")
    t = (triples.filter(F.col("pred") != "complements")
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj"))
         .distinct())
    fan = t.groupBy("subj", "pred").agg(
        F.collect_set("obj").alias("true_objs"))
    # subject+relation lanes and the true object's distance, computed
    # ONCE per positive (before the candidate explode carries them)
    t2 = t.join(fan, ["subj", "pred"])
    for j in range(dim):
        t2 = t2.withColumn(
            f"hr{j}", _lane("ent", F.col("subj"), j, "te")
            + _lane("rel", F.col("pred"), j, "te"))
    dist_true = reduce(operator.add, [
        (F.col(f"hr{j}") - _lane("ent", F.col("obj"), j, "te"))
        * (F.col(f"hr{j}") - _lane("ent", F.col("obj"), j, "te"))
        for j in range(dim)])
    t2 = t2.withColumn("dist_true", dist_true)

    cands = t.select("pred", F.col("obj").alias("cand")).distinct()
    for j in range(dim):
        cands = cands.withColumn(
            f"c{j}", _lane("ent", F.col("cand"), j, "te"))
    rows = (t2.join(F.broadcast(cands), "pred")
            .filter((F.col("cand") == F.col("obj"))
                    | ~F.array_contains("true_objs", F.col("cand"))))
    dist = reduce(operator.add, [
        (F.col(f"hr{j}") - F.col(f"c{j}"))
        * (F.col(f"hr{j}") - F.col(f"c{j}")) for j in range(dim)])
    rows = rows.withColumn("dist", dist)
    beats = F.when((F.col("dist") < F.col("dist_true"))
                   | ((F.col("dist") == F.col("dist_true"))
                      & (F.col("cand") < F.col("obj"))),
                   F.lit(1)).otherwise(F.lit(0))
    ranked = rows.groupBy("subj", "pred", "obj").agg(
        (F.lit(1) + F.sum(beats)).alias("rnk"))
    return (ranked.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.avg(F.lit(1.0) / F.col("rnk")), 6).alias("mrr"),
        F.round(F.avg((F.col("rnk") <= 1).cast("double")), 6)
        .alias("hits_at_1"),
        F.round(F.avg((F.col("rnk") <= 3).cast("double")), 6)
        .alias("hits_at_3"),
        F.round(F.avg(F.col("rnk").cast("double")), 6)
        .alias("mean_rank")))


#: distinct-vocabulary row count above which the per-predicate window
#: rank gives way to the range-partitioned distributed dense rank — a
#: window partition holding more rows than this is straggler territory
VOCAB_WINDOW_THRESHOLD = 100_000


def _vocab_ranked(t: DataFrame) -> DataFrame:
    """(pred, obj, rnk, vsz) — dense [1, V] per-predicate ranking of
    the distinct object vocabulary, by one of two plans chosen from
    the distinct count (identical output, parity-tested): a window
    while every vocabulary fits a window partition,
    ``topk.grouped_dense_rank`` once the distinct vocabulary outgrows
    VOCAB_WINDOW_THRESHOLD."""
    v = t.select("pred", "obj").distinct()
    if v.count() <= VOCAB_WINDOW_THRESHOLD:
        return (v.withColumn("rnk", F.row_number().over(
                    Window.partitionBy("pred").orderBy("obj")))
                .withColumn("vsz", F.count(F.lit(1)).over(
                    Window.partitionBy("pred"))))
    from .topk import grouped_dense_rank

    ranked = grouped_dense_rank(v, "pred", "obj", out_col="rnk")
    sizes = v.groupBy("pred").agg(F.count(F.lit(1)).alias("vsz"))
    return ranked.join(F.broadcast(sizes), "pred")


def transe_sampled_ranking(triples: DataFrame, k: int = 20,
                           dim: int = 8) -> DataFrame:
    """Sampled-negative TransE ranking evaluation — the protocol that
    survives entity-sized vocabularies (DGL-KE / PyTorch-BigGraph
    style): instead of ranking the true object against the
    predicate's ENTIRE vocabulary (``transe_entity_ranking`` — right
    for closed attribute taxonomies, impossible for a 10^8-product
    ``complements`` vocabulary), rank it against ``k`` deterministic
    corrupted draws from that vocabulary, skip-one indexed so a draw
    never lands on the true object itself. Draws are with
    replacement (duplicates count twice — the standard sampled
    protocol) and are NOT filtered against other true triples, so
    this reports the protocol's "raw" sampled metrics; both choices
    are deterministic and replayed exactly by the SQL oracle.

    Scale shape: the vocabulary ranking is over the distinct
    (pred, obj) set — a per-predicate window while every vocabulary
    is window-partition-sized, switching to the distributed
    range-partitioned dense rank (``topk.grouped_dense_rank``) the
    moment the distinct vocabulary outgrows
    ``VOCAB_WINDOW_THRESHOLD`` rows: a 10^8-product ``complements``
    vocabulary must never funnel through one window task. Both plans
    produce the IDENTICAL dense [1, V] ranking (parity-tested), so the
    draw replay — and the SQL oracle — are plan-independent. The
    true-rank lookup joins on (pred, obj) and the draw lookup on
    (pred, nrk) — plain equi-joins that shuffle vocabulary-sized data,
    never pairwise.
    The k-way explode and every hash lane run in codegen; ranks are
    in [1, k+1]. Output: (pred, n_test, k, mrr_sampled, hits_at_1,
    hits_at_3, mean_rank).
    """
    import operator
    from functools import reduce

    if k < 1:
        raise ValueError("k must be >= 1")
    if dim < 1:
        raise ValueError("dim must be >= 1")
    t = (triples
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj"))
         .distinct())
    vocab = _vocab_ranked(t)
    pos = (t.join(vocab, ["pred", "obj"])
           .filter(F.col("vsz") >= 2))
    for j in range(dim):
        pos = pos.withColumn(
            f"hr{j}", _lane("ent", F.col("subj"), j, "ts")
            + _lane("rel", F.col("pred"), j, "ts"))
    dist_true = reduce(operator.add, [
        (F.col(f"hr{j}") - _lane("ent", F.col("obj"), j, "ts"))
        * (F.col(f"hr{j}") - _lane("ent", F.col("obj"), j, "ts"))
        for j in range(dim)])
    pos = pos.withColumn("dist_true", dist_true)
    e = pos.withColumn("draw", F.explode(F.array(
        *[F.lit(i) for i in range(k)])))
    h = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit("ts"), F.col("draw"), F.col("subj"),
        F.col("pred"), F.col("obj"))), 1, 15), 16, 10).cast("long")
    e = (e.withColumn("idx0", h % (F.col("vsz") - 1) + 1)
         .withColumn("nrk", F.when(F.col("idx0") < F.col("rnk"),
                                   F.col("idx0"))
                     .otherwise(F.col("idx0") + 1)))
    neg = vocab.select("pred", F.col("rnk").alias("nrk"),
                       F.col("obj").alias("neg_obj"))
    e = e.join(neg, ["pred", "nrk"])
    dist_neg = reduce(operator.add, [
        (F.col(f"hr{j}") - _lane("ent", F.col("neg_obj"), j, "ts"))
        * (F.col(f"hr{j}") - _lane("ent", F.col("neg_obj"), j, "ts"))
        for j in range(dim)])
    e = e.withColumn("dist_neg", dist_neg)
    beats = F.when((F.col("dist_neg") < F.col("dist_true"))
                   | ((F.col("dist_neg") == F.col("dist_true"))
                      & (F.col("neg_obj") < F.col("obj"))),
                   F.lit(1)).otherwise(F.lit(0))
    ranked = e.groupBy("subj", "pred", "obj").agg(
        (F.lit(1) + F.sum(beats)).alias("rnk_s"))
    return (ranked.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.lit(k).alias("k"),
        F.round(F.avg(F.lit(1.0) / F.col("rnk_s")), 6)
        .alias("mrr_sampled"),
        F.round(F.avg((F.col("rnk_s") <= 1).cast("double")), 6)
        .alias("hits_at_1"),
        F.round(F.avg((F.col("rnk_s") <= 3).cast("double")), 6)
        .alias("hits_at_3"),
        F.round(F.avg(F.col("rnk_s").cast("double")), 6)
        .alias("mean_rank")))


def pra_path_features(pairs: DataFrame, triples: DataFrame,
                      preds: list[str]) -> DataFrame:
    """Path-Ranking-Algorithm features for candidate entity pairs.

    For each (src, dst) candidate and each predicate p in ``preds``,
    counts the distinct length-2 paths ``src -p-> v <-p- dst`` (shared
    attribute values) — the classic PRA feature a link-prediction
    re-ranker consumes (Lao & Cohen 2010), here restricted to the
    symmetric attribute-sharing path type that dominates product KGs.

    Scale shape per predicate: the predicate slice is filtered BEFORE
    any join (predicate pushdown on the triple scan), the candidate
    set joins it keyed on entity id, and the path match joins keyed
    (dst, value) — fan-out bounded by per-entity attribute cardinality
    (taxonomy-bounded, never corpus-sized). Feature frames re-join the
    candidate set on its own (src, dst) key, so AQE reuses one
    partitioning across all feature columns. No windows, no UDFs.
    """
    out = pairs.select("src", "dst")
    for p in preds:
        tp = (triples.filter(F.col("pred") == p)
              .select(F.col("subj").alias("_s"),
                      F.col("obj").alias("_v")).distinct())
        f = (out.select("src", "dst")
             .join(tp.withColumnRenamed("_s", "src"), "src")
             .join(tp.withColumnRenamed("_s", "dst")
                   .withColumnRenamed("_v", "_v2"),
                   ["dst"], "inner")
             .filter(F.col("_v") == F.col("_v2"))
             .groupBy("src", "dst")
             .agg(F.countDistinct("_v").alias(f"f_{p}")))
        out = (out.join(f, ["src", "dst"], "left")
               .withColumn(f"f_{p}",
                           F.coalesce(F.col(f"f_{p}"), F.lit(0))))
    return out
