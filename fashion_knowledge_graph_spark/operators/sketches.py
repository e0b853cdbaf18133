"""Deterministic cardinality / frequency sketches as DataFrame plans.

Both sketches here use the same portable 60-bit hash lane the dedup
family standardized on — ``conv(substr(md5(x), 1, 15), 16, 10)`` — so
every estimate is bit-replayable in ANSI SQL (DuckDB parses the same
prefix with ``('0x' || substr(md5(x),1,15))::BIGINT``), which is what
makes them driver-oracle-checkable. 15 hex chars = 60 bits: fits an
int64 with headroom, uniform enough for sketch guarantees.

Why sketches in a 100 TB engine: the exact forms (count distinct,
per-term counts) shuffle one row per distinct VALUE; the sketches
shuffle one row per (group, slot) — a constant-size summary that
partial-aggregates map-side and merges associatively, which is the
difference between a vocabulary-sized exchange and a KB-sized one.

KMV (k minimum values, Bar-Yossef et al. 2002): keep the k smallest
hashes of the distinct values; with kth smallest = h_(k) on a hash
space of size 2^60, estimate |D| ≈ (k-1) · 2^60 / h_(k).

Count-min (Cormode & Muthukrishnan 2005): d independent hash rows of
w buckets; every occurrence increments one bucket per row;
est(x) = min over rows of its bucket — an overestimate with
ε = e/w error at δ = e^-d confidence.

Reference parity: the reference has no sketches (it counts its 3,127
products exactly); these are the scale extensions the north rule's
10^12-doc corpus needs for vocabulary / per-source cardinality stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HASH_SPACE = float(2 ** 60)  # 15 hex chars


def _h60(col):
    """Portable 60-bit uniform hash of a string column (md5 prefix)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15),
                  16, 10).cast("long")


def kmv_distinct(df: DataFrame, group_cols: list[str], value_col: str,
                 k: int = 64) -> DataFrame:
    """Per-group KMV distinct-count estimate →
    ``(group_cols..., n_distinct_exact, n_distinct_kmv)``.

    The k smallest hashes per group are found with one window over the
    DISTINCT (group, hash) rows; groups with fewer than k distinct
    values report their exact count (the sketch is lossless below k —
    that's the standard small-set short-circuit). The exact count
    rides along from the same distinct pass so callers (and the
    oracle) can see the estimation error directly.

    Scale note: this demo form shuffles the distinct values once (the
    same exchange exact COUNT DISTINCT pays) because a window is the
    portable way to express "k smallest per group"; the production
    form at 10^12 docs is the associative merge — per-partition
    k-smallest arrays merged pairwise (a custom Aggregator JVM-side,
    or ``slice(array_sort(array_union(a, b)), 1, k)`` as a reduce) —
    whose exchange is k int64s per group regardless of cardinality.
    The ESTIMATE is identical either way (same k smallest hashes), so
    correctness pins this plan and the merge form stays a physical
    swap.

    Estimate arithmetic is done in doubles: (k-1) · 2^60 / h_(k).
    h_(k) can exceed 2^53 so the int64→double conversion rounds, but
    IEEE nearest-rounding is engine-independent — the SQL replay is
    bit-identical.
    """
    g = [F.col(c) for c in group_cols]
    hashed = (df.select(*g, F.col(value_col).alias("__v"))
              .filter(F.col("__v").isNotNull())
              .distinct()
              .select(*g, _h60(F.col("__v")).alias("__h")))
    w = Window.partitionBy(*group_cols).orderBy("__h")
    ranked = hashed.select(*g, "__h",
                           F.row_number().over(w).alias("__rn"))
    per_group = (ranked.groupBy(*group_cols)
                 .agg(F.count(F.lit(1)).alias("n_distinct_exact"),
                      F.max(F.when(F.col("__rn") == k, F.col("__h")))
                      .alias("__kth")))
    est = F.when(
        F.col("__kth").isNull(),
        F.col("n_distinct_exact").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(HASH_SPACE)
        / F.col("__kth").cast("double"))
    return per_group.select(
        *group_cols, "n_distinct_exact",
        F.round(est, 4).alias("n_distinct_kmv"))


def cms_term_counts(tokens: DataFrame, depth: int = 4,
                    width: int = 512) -> DataFrame:
    """Count-min frequency estimates for every distinct term →
    ``(term, n_exact, n_cms)`` with the CMS guarantee
    ``n_cms ≥ n_exact`` (collisions only ever ADD).

    ``tokens`` is one row per token occurrence. The sketch itself is
    the (depth × width) bucket table: one partial-aggregating groupBy
    whose output is depth·width rows TOTAL — at 10^12 docs that is
    the entire shuffle (a few KB), vs the vocabulary-sized exchange
    of an exact count. Bucket row d for term t is
    ``h60(d || ':' || t) mod width``.

    The exact counts ride along for error inspection (and the
    oracle); in production they'd be dropped and only probe terms
    would join the broadcast bucket table.
    """
    t = tokens.select("term") \
        .filter(F.col("term").isNotNull())
    rows = F.array([F.lit(d) for d in range(depth)])
    # one row per (occurrence, depth): explode BEFORE aggregating so
    # the groupBy partial-aggregates map-side straight to d·w cells
    cells = t.select(
        "term", F.explode(rows).alias("d")).select(
        "d",
        F.pmod(_h60(F.concat_ws(":", F.col("d"), F.col("term"))),
               F.lit(width)).alias("bucket"))
    bucket_counts = cells.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).alias("bucket_n"))
    exact = t.groupBy("term").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = exact.select(
        "term", F.explode(rows).alias("d")).select(
        "term", "d",
        F.pmod(_h60(F.concat_ws(":", F.col("d"), F.col("term"))),
               F.lit(width)).alias("bucket"))
    est = (probes.join(F.broadcast(bucket_counts), ["d", "bucket"])
           .groupBy("term").agg(F.min("bucket_n").alias("n_cms")))
    return exact.join(est, "term").select("term", "n_exact", "n_cms")


def histogram_quantiles(df: DataFrame, group_cols: list[str],
                        value_col: str, lo: float, hi: float,
                        bins: int = 128,
                        quantiles: tuple = (0.5, 0.95)) -> DataFrame:
    """Per-group quantile estimates from a fixed-range equi-width
    histogram sketch → ``(group_cols..., n, q<P>_est, q<P>_exact...)``.

    The sketch is the (group, bin) count table: ``bins`` cells per
    group REGARDLESS of row count — fully mergeable (counts add), one
    partial-aggregating groupBy, which is why fixed-bin histograms
    are the classic streaming/distributed quantile structure (the
    t-digest/KLL trade: those adapt bin edges for unbounded domains;
    fixed edges keep this exactly SQL-replayable). Estimate for
    quantile q = midpoint of the first bin whose cumulative count
    reaches ceil(q·n); out-of-range values clamp to the edge bins
    (the caller owns [lo, hi) — same contract as
    ``functions/zorder.bucketize``).

    Exact interpolated percentiles ride along (one extra agg over
    the same pass shape) so the estimation error is visible — the
    same error-transparency convention as ``kmv_distinct``.
    """
    g = [F.col(c) for c in group_cols]
    width = (hi - lo) / bins
    b = F.least(
        F.greatest(F.floor((F.col(value_col) - F.lit(lo))
                           / F.lit(width)), F.lit(0)),
        F.lit(bins - 1)).cast("int")
    cells = (df.select(*g, b.alias("bin"))
             .groupBy(*group_cols, "bin")
             .agg(F.count(F.lit(1)).alias("c")))
    wcum = Window.partitionBy(*group_cols).orderBy("bin") \
        .rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(*group_cols)
    cum = cells.select(
        *group_cols, "bin",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"))
    est_aggs = [F.first("n").alias("n")]
    for q in quantiles:
        tag = f"q{int(round(q * 100)):02d}"
        est_aggs.append(
            (F.lit(lo) + (F.min(F.when(
                F.col("cum") >= F.ceil(F.col("n") * F.lit(q)),
                F.col("bin"))) + F.lit(0.5)) * F.lit(width))
            .alias(f"{tag}_est"))
    ests = cum.groupBy(*group_cols).agg(*est_aggs)
    exact_aggs = []
    pct = F.expr(
        f"percentile({value_col}, array({', '.join(str(q) for q in quantiles)}))")
    for i, q in enumerate(quantiles):
        tag = f"q{int(round(q * 100)):02d}"
        exact_aggs.append(F.round(pct[i], 6).alias(f"{tag}_exact"))
    exact = df.groupBy(*group_cols).agg(*exact_aggs)
    return ests.join(exact, group_cols)


def kmv_overlap(df: DataFrame, set_col: str, value_col: str,
                k: int = 64) -> DataFrame:
    """Pairwise set-overlap estimates from KMV sketches →
    ``(set_a, set_b, est_a, est_b, est_union, est_intersect,
    jaccard_est, n_intersect_exact)`` for every unordered set pair —
    the audience-overlap estimator (how many users fire BOTH event
    types) that never materializes the intersection.

    Sketch algebra: the union's sketch is the k smallest of the two
    sketches' merged hash sets (a value in both sets hashes
    identically, so the merge deduplicates itself); the intersection
    comes from inclusion–exclusion est(A)+est(B)−est(A∪B), clamped at
    0. That merge is the whole point at scale: per-pair cost is
    O(k log k) on two k-element summaries, not a |A|×|B| join —
    every pair of 10^9-user audiences compares in microseconds. The
    reference intersection rides along (the expensive self-join the
    sketch avoids) so the estimation error is visible, same
    convention as ``kmv_distinct``; it joins on the 60-bit hashes,
    so it is exact up to cross-value collisions (~n²/2⁶¹ —
    negligible, and identical in the SQL replay).
    """
    hashed = (df.select(F.col(set_col).alias("s"),
                        F.col(value_col).alias("v"))
              .filter(F.col("v").isNotNull())
              .distinct()
              .select("s", _h60(F.col("v")).alias("h"))
              .localCheckpoint(eager=True))
    w = Window.partitionBy("s").orderBy("h")
    sk = hashed.select("s", "h", F.row_number().over(w).alias("rn")) \
        .filter(F.col("rn") <= k).localCheckpoint(eager=True)

    def est(kth_col, n_col):
        return F.when(kth_col.isNull(), n_col.cast("double")) \
            .otherwise(F.lit(float(k - 1)) * F.lit(HASH_SPACE)
                       / kth_col.cast("double"))

    per_set = sk.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_sk"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("kth"))
    singles = per_set.select(
        "s", F.round(est(F.col("kth"), F.col("n_sk")), 4).alias("e"))

    pairs = (sk.select(F.col("s").alias("set_a"))
             .distinct()
             .join(sk.select(F.col("s").alias("set_b")).distinct(),
                   F.col("set_a") < F.col("set_b")))
    # merged sketch per pair: k smallest of the union of the two
    # k-element sketches (distinct h — shared values collapse)
    merged = (pairs
              .join(sk.withColumnRenamed("s", "set_a")
                    .select("set_a", "h"), "set_a")
              .unionByName(
                  pairs.join(sk.withColumnRenamed("s", "set_b")
                             .select("set_b", "h"), "set_b"))
              .select("set_a", "set_b", "h").distinct())
    wu = Window.partitionBy("set_a", "set_b").orderBy("h")
    uk = (merged.select("set_a", "set_b", "h",
                        F.row_number().over(wu).alias("rn"))
          .filter(F.col("rn") <= k)
          .groupBy("set_a", "set_b")
          .agg(F.count(F.lit(1)).alias("n_sk"),
               F.max(F.when(F.col("rn") == k, F.col("h"))).alias("kth"))
          .select("set_a", "set_b",
                  F.round(est(F.col("kth"), F.col("n_sk")), 4)
                  .alias("est_union")))
    exact_i = (hashed.alias("x")
               .join(hashed.alias("y"),
                     (F.col("x.h") == F.col("y.h"))
                     & (F.col("x.s") < F.col("y.s")))
               .groupBy(F.col("x.s").alias("set_a"),
                        F.col("y.s").alias("set_b"))
               .agg(F.count(F.lit(1)).alias("n_intersect_exact")))
    ea = singles.select(F.col("s").alias("set_a"),
                        F.col("e").alias("est_a"))
    eb = singles.select(F.col("s").alias("set_b"),
                        F.col("e").alias("est_b"))
    out = (uk.join(ea, "set_a").join(eb, "set_b")
           .join(exact_i, ["set_a", "set_b"], "left"))
    inter = F.greatest(
        F.round(F.col("est_a") + F.col("est_b")
                - F.col("est_union"), 4), F.lit(0.0))
    return out.select(
        "set_a", "set_b", "est_a", "est_b", "est_union",
        inter.alias("est_intersect"),
        F.round(inter / F.col("est_union"), 6).alias("jaccard_est"),
        F.coalesce(F.col("n_intersect_exact"), F.lit(0))
        .alias("n_intersect_exact"))


def bloom_positions(col, m: int, d: int):
    """Array of ``d`` bit positions in ``[0, m)`` for a value — the
    same portable md5 lanes as every other sketch here, salted per
    hash function, so the filter is bit-replayable in ANSI SQL."""
    return F.array(*[
        (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"bloom{i}:"), col.cast("string"))),
            1, 15), 16, 10).cast("long") % m)
        for i in range(1, d + 1)])


def bloom_build(df: DataFrame, value_col: str,
                m: int = 4096, d: int = 3) -> DataFrame:
    """Build a Bloom filter over the distinct values of ``value_col``
    as a table of SET BIT POSITIONS → ``(pos)``, ≤ m rows.

    The bit table IS the filter: tiny by construction (m positions at
    most, independent of input cardinality), so at 100 TB it
    broadcasts to every probe task — the same shape as the runtime
    ``might_contain`` join pruning Spark injects, but explicit,
    deterministic, and persistable as a table other jobs reuse.
    Build cost: one distinct + a d-way position explode, all
    partial-aggregated map-side.
    """
    return (df.select(F.explode(
                bloom_positions(F.col(value_col), m, d)).alias("pos"))
            .distinct())


def bloom_probe(bits: DataFrame, probe: DataFrame, probe_col: str,
                m: int = 4096, d: int = 3) -> DataFrame:
    """Probe rows against a built filter → probe columns +
    ``might_contain`` (no false negatives; false-positive rate
    ≈ (1 − e^(−d·n/m))^d).

    Plan shape: explode the probe's d positions, LEFT join the
    (broadcast-sized) bit table, and require ALL d lanes to hit —
    a map-side membership test once the bits are broadcast; the only
    exchange is the per-probe-key regroup, which partial-aggregates.
    """
    pp = probe.select(
        F.col(probe_col),
        F.posexplode(bloom_positions(F.col(probe_col), m, d))
        .alias("lane", "pos"))
    hit = (pp.join(F.broadcast(bits.withColumn("__hit", F.lit(1))),
                   "pos", "left")
           .groupBy(probe_col)
           .agg((F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                 == F.lit(d)).alias("might_contain")))
    return probe.join(hit, probe_col)


def cms_join_size(left: DataFrame, right: DataFrame,
                  left_col: str, right_col: str,
                  depth: int = 4, width: int = 8192) -> DataFrame:
    """Equi-join cardinality estimation from per-side count-min
    sketches (the AMS inner-product estimator) → ONE row
    ``(n_left, n_right, exact_join_size, est_join_size)``.

    |A ⋈_k B| = Σ_k fA(k)·fB(k). Each depth row estimates it as the
    inner product of the two sides' bucket vectors
    Σ_b cmsA[d,b]·cmsB[d,b]; hash collisions only ever ADD mass, so
    every row's estimate ≥ the true size and the reported
    ``min`` over rows keeps the CMS upper-bound guarantee while
    shedding most collision noise. Self-joins (same column both
    sides) make this the second frequency moment F₂ — the classic
    join-planning / skew statistic.

    Scale shape: each side collapses to a (depth·width)-row bucket
    table in one partial-agg'd pass — the two relations are NEVER
    joined; total shuffle is KBs at any input size, which is the
    entire point (the exact companion needs per-key count tables
    whose size is the key cardinality). Same portable 60-bit md5
    bucket rule as ``cms_term_counts``, so the SQL replay is
    bit-identical.
    """
    rows = F.array([F.lit(d) for d in range(depth)])

    def side_buckets(df, col):
        return (df.select(F.col(col).cast("string").alias("k"))
                .filter(F.col("k").isNotNull())
                .select("k", F.explode(rows).alias("d"))
                .select("d", F.pmod(
                    _h60(F.concat_ws(":", F.col("d"), F.col("k"))),
                    F.lit(width)).alias("bucket"))
                .groupBy("d", "bucket")
                .agg(F.count(F.lit(1)).alias("n")))

    la = side_buckets(left, left_col)
    rb = side_buckets(right, right_col)
    est = (la.join(rb.withColumnRenamed("n", "m"), ["d", "bucket"])
           .groupBy("d").agg(F.sum(F.col("n") * F.col("m")).alias("ip"))
           # a depth row with ZERO shared buckets never reaches the
           # group table, but its inner product is 0 — and 0 is then
           # the true min (any missing depth ⇒ estimate 0; exact ≤
           # every depth's ip, so exact is 0 too and the guarantee
           # holds)
           .agg(F.when(F.countDistinct("d") < F.lit(depth), F.lit(0))
                .otherwise(F.min("ip")).alias("est_join_size")))

    lk = (left.select(F.col(left_col).cast("string").alias("k"))
          .filter(F.col("k").isNotNull())
          .groupBy("k").agg(F.count(F.lit(1)).alias("fa")))
    rk = (right.select(F.col(right_col).cast("string").alias("k"))
          .filter(F.col("k").isNotNull())
          .groupBy("k").agg(F.count(F.lit(1)).alias("fb")))
    exact = (lk.join(rk, "k")
             .agg(F.coalesce(F.sum(F.col("fa") * F.col("fb")),
                             F.lit(0)).alias("exact_join_size"),
                  F.coalesce(F.sum("fa"), F.lit(0)).alias("n_left")))
    n_r = right.select(F.col(right_col).cast("string").alias("k")) \
        .filter(F.col("k").isNotNull()) \
        .agg(F.count(F.lit(1)).alias("n_right"))
    # n_left above counts only keys present in BOTH sides — recount
    n_l = left.select(F.col(left_col).cast("string").alias("k")) \
        .filter(F.col("k").isNotNull()) \
        .agg(F.count(F.lit(1)).alias("n_left"))
    return (n_l.crossJoin(n_r)
            .crossJoin(exact.select("exact_join_size"))
            .crossJoin(est)
            .select("n_left", "n_right",
                    F.col("exact_join_size").cast("long")
                    .alias("exact_join_size"),
                    F.col("est_join_size").cast("long")
                    .alias("est_join_size")))
