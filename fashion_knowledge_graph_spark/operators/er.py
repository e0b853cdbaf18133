"""Surface-form entity resolution: q-gram blocking + edit-distance verify.

The reference links mentions to the canonical taxonomy purely by
embedding cosine (reference: src/knowledge_graph/entity_linking.py —
LSH-blocked top-k); this module adds the classic *surface-form* path
used when an embedding model is unavailable or as a high-precision
pre-pass: positional q-gram blocking (Gravano et al., "Approximate
String Joins in a Database (Almost) for Free", VLDB 2001) with
stop-gram pruning, then Levenshtein verification and deterministic
top-1 selection.

Scale shape (100 TB):
- Candidate generation is an equi-join on ``gram`` — a plain shuffle
  hash join, never a cross join. Fan-out is bounded by
  ``max_gram_df``: grams whose *catalog* document frequency exceeds
  the cap (e.g. a shared brand prefix appearing in every name) are
  dropped from BOTH sides before the join, the standard stop-gram
  rule. A within-distance-d pair shares ≥ max(|a|,|b|) − q·d grams
  (q-gram count filtering), so pruning only head grams keeps recall
  for realistic thresholds; the cap is a tunable precision/recall
  knob and the pruned-gram list is tiny (≤ #grams over the cap) and
  broadcast.
- Pairs are ``distinct``-ed per (left id, right id) BEFORE the
  Levenshtein so the verify cost is once per candidate, JVM-side
  whole-stage codegen (``levenshtein`` is a built-in, no Python).
- Top-1 per left id is a window over candidate lists bounded by the
  blocking fan-out — never a global sort.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def qgram_explode(df: DataFrame, id_col: str, text_col: str,
                  q: int = 3) -> DataFrame:
    """One row per DISTINCT q-gram of ``text_col`` (padded-free,
    character-position grams; strings shorter than ``q`` contribute
    their single truncated gram so they remain blockable)."""
    n = F.greatest(F.length(F.col(text_col)) - (q - 1), F.lit(1))
    grams = F.array_distinct(
        F.transform(F.sequence(F.lit(1), n),
                    lambda i: F.substr(F.col(text_col), i, F.lit(q))))
    return df.select(F.col(id_col), F.explode(grams).alias("gram"))


def stop_grams(catalog_grams: DataFrame, max_gram_df: int) -> DataFrame:
    """Grams whose catalog document frequency exceeds the cap.
    Tiny by construction (head of the Zipf curve) — broadcast it."""
    return (catalog_grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_gram_df)
            .select("gram"))


def fuzzy_join(left: DataFrame, right: DataFrame,
               left_id: str, left_text: str,
               right_id: str, right_text: str,
               q: int = 3, max_distance: int = 2,
               max_gram_df: int | None = None) -> DataFrame:
    """Blocked approximate string join.

    Returns ``(left_id, left_text, right_id, right_text, distance)``
    for every candidate pair sharing ≥1 surviving q-gram with
    ``levenshtein ≤ max_distance``. Pure DataFrame ops: explode →
    equi-join → distinct → codegen'd levenshtein filter.
    """
    lg = qgram_explode(left, left_id, left_text, q=q)
    rg = qgram_explode(right, right_id, right_text, q=q)
    if max_gram_df is not None:
        stops = stop_grams(rg, max_gram_df)
        lg = lg.join(F.broadcast(stops), "gram", "left_anti")
        rg = rg.join(F.broadcast(stops), "gram", "left_anti")
    pairs = (lg.join(rg, "gram")
             .select(left_id, right_id).distinct())
    scored = (pairs
              .join(left.select(left_id, left_text), left_id)
              .join(right.select(right_id, right_text), right_id)
              .withColumn("distance",
                          F.levenshtein(F.col(left_text),
                                        F.col(right_text)))
              .filter(F.col("distance") <= max_distance))
    return scored.select(left_id, left_text, right_id, right_text,
                         "distance")


def fuzzy_top1(left: DataFrame, right: DataFrame,
               left_id: str, left_text: str,
               right_id: str, right_text: str,
               q: int = 3, max_distance: int = 2,
               max_gram_df: int | None = None) -> DataFrame:
    """Deterministic best match per left row: min distance, ties
    broken on ``right_text`` then ``right_id`` ascending."""
    cand = fuzzy_join(left, right, left_id, left_text,
                      right_id, right_text, q=q,
                      max_distance=max_distance,
                      max_gram_df=max_gram_df)
    w = (Window.partitionBy(left_id)
         .orderBy(F.asc("distance"), F.asc(right_text),
                  F.asc(right_id)))
    return (cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def snm_pairs(df: DataFrame, id_col: str, key_col: str,
              window: int = 5,
              max_distance: int | None = None) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95):
    sort records by a blocking key, slide a ``window``-record pane,
    and emit every in-pane pair → ``(id_a, id_b, key_a, key_b[,
    distance])`` — the OTHER canonical ER candidate generator next to
    q-gram blocking (``fuzzy_join``): q-grams catch typos anywhere
    but need shared grams; SNM catches near-sorted families (prefix
    variants, serials) and bounds candidates at n·(w−1)/2 REGARDLESS
    of key skew — no hot-block blowup by construction.

    Relationally: ONE global rank (a range-sort at scale — Spark
    range-partitions the sort, there is no single-reducer bottleneck)
    then a self-join on rank distance 1..w−1. Ties in the key are
    broken by id, so the pane — and therefore the candidate set — is
    byte-deterministic and SQL-replayable. With ``max_distance`` the
    pairs are Levenshtein-verified in the same codegen stage
    (candidates stay a superset of SNM-findable true matches either
    way).
    """
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("key"), F.col("id"))
    ranked = (df.select(F.col(id_col).alias("id"),
                        F.col(key_col).alias("key"))
              .filter(F.col("key").isNotNull())
              .withColumn("rn", F.row_number().over(w))
              .localCheckpoint(eager=True))
    # equi-join shape: explode each record into its w−1 forward
    # offsets and join on the EXACT target rank — a rank-range theta
    # join would fall back to a nested-loop at scale; this stays a
    # hash join on an integer key
    offs = F.array([F.lit(d) for d in range(1, window)])
    a = (ranked.select(F.col("id").alias("id_a"),
                       F.col("key").alias("key_a"),
                       F.col("rn").alias("rn_a"))
         .select("id_a", "key_a", "rn_a",
                 F.explode(offs).alias("d"))
         .select("id_a", "key_a",
                 (F.col("rn_a") + F.col("d")).alias("rn_b")))
    b = ranked.select(F.col("id").alias("id_b"),
                      F.col("key").alias("key_b"),
                      F.col("rn").alias("rn_b"))
    pairs = a.join(b, "rn_b").select("id_a", "id_b", "key_a", "key_b")
    if max_distance is not None:
        pairs = pairs.withColumn(
            "distance", F.levenshtein("key_a", "key_b")) \
            .filter(F.col("distance") <= max_distance)
    return pairs


def fs_em_step(pairs: DataFrame, gamma_cols: list[str]) -> dict:
    """One EM iteration of the Fellegi–Sunter record-linkage model
    (Fellegi & Sunter 1969; Winkler's EM estimation).

    ``pairs`` carries one binary agreement column per comparator.
    E-step: P(match|γ) per pair from the starting (π, m, u) =
    (0.1, 0.9, 0.1) for every comparator — a pure
    codegen expression of literals, bit-identical across engines.
    M-step: the new m_i/u_i/π from ONE partial-agg'd pass (2·|γ|+1
    sums). Driver state is the parameter dict only — the classic
    many-EM-iterations loop is O(iters) word-count-shaped jobs.

    Returns {"pi": π', "m": {γ: m'}, "u": {γ: u'}} — feed into
    ``fs_weights`` for the log2 agreement weights.
    """
    pm = F.lit(0.1)
    pu = F.lit(1.0 - 0.1)
    for g in gamma_cols:
        pm = pm * F.when(F.col(g) == 1, F.lit(0.9)) \
                   .otherwise(F.lit(1.0 - 0.9))
        pu = pu * F.when(F.col(g) == 1, F.lit(0.1)) \
                   .otherwise(F.lit(1.0 - 0.1))
    p = (pm / (pm + pu)).alias("__p")
    scored = pairs.select(*gamma_cols, p)
    aggs = [F.sum("__p").alias("sp"),
            F.count(F.lit(1)).alias("n")]
    for g in gamma_cols:
        aggs.append(F.sum(F.col("__p") * F.col(g)).alias(f"spg_{g}"))
        aggs.append(F.sum((1.0 - F.col("__p")) * F.col(g))
                    .alias(f"sqg_{g}"))
    r = scored.agg(*aggs).first()
    sp, n = r["sp"], r["n"]
    sq = n - sp
    return {"pi": sp / n,
            "m": {g: r[f"spg_{g}"] / sp for g in gamma_cols},
            "u": {g: r[f"sqg_{g}"] / sq for g in gamma_cols}}


def fs_score(pairs: DataFrame, params: dict,
             gamma_cols: list[str]):
    """Fellegi–Sunter match weight column: Σ_i γ_i·log2(m/u) +
    (1−γ_i)·log2((1−m)/(1−u)) with the given parameters."""
    import math
    w = F.lit(0.0)
    for g in gamma_cols:
        m, u = params["m"][g], params["u"][g]
        w = w + F.when(F.col(g) == 1,
                       F.lit(math.log(m / u) / math.log(2.0))) \
                 .otherwise(F.lit(math.log((1.0 - m) / (1.0 - u))
                                  / math.log(2.0)))
    return w


def blocking_metrics(docs: DataFrame, truth_pairs: DataFrame,
                     key_cols: list[str]) -> DataFrame:
    """Blocking-quality metrics for an entity-resolution blocker:
    pairs completeness (recall of true matches inside the candidate
    set) and reduction ratio (fraction of the n·(n−1)/2 comparison
    space the blocker prunes).

    The candidate set is "pairs sharing the composite ``key_cols``
    block key" — but it is NEVER materialized: candidate counts come
    from one groupBy (Σ n_b·(n_b−1)/2 per block, NULL keys excluded
    as in standard blocking), and the matched count from joining the
    TRUE pairs (the small side — ground truth is label-sized) to the
    per-doc keys twice. At 10^12 docs the full candidate set of any
    usable blocker is itself data-sized; counting it via block sizes
    is the only shape that scales.

    Returns one row: n_docs, n_true, n_candidates, n_matched,
    pairs_completeness, reduction_ratio (both rounded to 6 places).
    """
    a, b = "id_a", "id_b"
    key = F.struct(*[F.col(c) for c in key_cols])
    keyed = docs.select(F.col("doc_id").alias("__id"),
                        key.alias("__k")) \
        .filter(F.col("__k").isNotNull())
    for c in key_cols:
        keyed = keyed.filter(F.col(f"__k.{c}").isNotNull())
    sizes = keyed.groupBy("__k").agg(F.count(F.lit(1)).alias("nb"))
    counts = sizes.agg(
        F.coalesce(F.sum(F.col("nb") * (F.col("nb") - 1) / 2), F.lit(0))
         .cast("long").alias("n_candidates"),
        F.coalesce(F.sum("nb"), F.lit(0)).cast("long").alias("n_docs"))
    ka = keyed.select(F.col("__id").alias(a), F.col("__k").alias("__ka"))
    kb = keyed.select(F.col("__id").alias(b), F.col("__k").alias("__kb"))
    matched = (truth_pairs.select(a, b)
               .join(ka, on=a).join(kb, on=b)
               .filter(F.col("__ka") == F.col("__kb")))
    m = matched.agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    t = truth_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    return (counts.crossJoin(m).crossJoin(t)
            .select(
                "n_docs", "n_true", "n_candidates", "n_matched",
                F.round(F.when(F.col("n_true") > 0,
                               F.col("n_matched") / F.col("n_true"))
                        .otherwise(F.lit(1.0)), 6)
                 .alias("pairs_completeness"),
                F.round(F.lit(1.0) - F.col("n_candidates")
                        / (F.col("n_docs") * (F.col("n_docs") - 1) / 2),
                        6).alias("reduction_ratio")))


def meta_blocking(membership: DataFrame,
                  max_block_size: int | None = None) -> DataFrame:
    """Meta-blocking (Papadakis et al.): prune a redundancy-positive
    blocking collection down to the comparisons worth running.

    Candidate pairs are weighted by CBS (count of common blocks);
    blocks larger than ``max_block_size`` are PURGED first (head
    blocks generate quadratic comparisons with near-zero signal — the
    classic scale-killer in dirty ER), and pairs whose weight falls
    below the global mean edge weight are discarded (WEP pruning).
    Returns (id_a, id_b, w) for the retained comparisons.

    Scale shape: the purge is one block-keyed size aggregation + semi
    join; pair generation fans out per block BOUNDED by the purge
    threshold; CBS is one (id_a, id_b)-keyed partial-agg'd rollup;
    the WEP threshold is a single-row aggregate broadcast back — no
    window, no driver collect, nothing quadratic in the corpus.
    """
    m = membership.select(F.col("block").alias("__b"),
                          F.col("id").alias("__id")).distinct()
    if max_block_size is not None:
        ok = (m.groupBy("__b")
              .agg(F.count(F.lit(1)).alias("nb"))
              .filter(F.col("nb") <= max_block_size)
              .select("__b"))
        m = m.join(ok, "__b", "left_semi")
    a = m.select("__b", F.col("__id").alias("id_a"))
    b = m.select("__b", F.col("__id").alias("id_b"))
    pairs = (a.join(b, "__b")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("w")))
    mean_w = pairs.agg(F.avg("w").alias("mw"))
    return (pairs.crossJoin(F.broadcast(mean_w))
            .filter(F.col("w") >= F.col("mw"))
            .select("id_a", "id_b", "w"))
