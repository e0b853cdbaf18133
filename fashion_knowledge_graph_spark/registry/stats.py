"""Statistics, ML and data-quality queries: tests, estimators, sketches,
regressions, drift and constraint checks."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.operators.features import (
    feature_hash, target_encode_loo,
)
from fashion_knowledge_graph_spark.operators.regression import (
    logreg_irls, ols_fit,
)
from fashion_knowledge_graph_spark.operators.sampling import (
    _poisson1_thresholds, poisson_bootstrap_mean,
)
from fashion_knowledge_graph_spark.operators.sketches import (
    bloom_build, bloom_probe, cms_join_size, cms_term_counts,
    histogram_quantiles, kmv_distinct, kmv_overlap,
)
from fashion_knowledge_graph_spark.operators.validate import (
    check_constraints, profile_table,
)
from fashion_knowledge_graph_spark.registry import query
from fashion_knowledge_graph_spark.registry.common import _load


_pth = _poisson1_thresholds()
_pcase = " ".join(
    f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_pth))


# IRLS logistic regression, 2 Newton steps unrolled. det3/solve
# textual expansion keeps the association order IDENTICAL to
# operators/regression.py::_det3_f, so engines diverge only at ulp
# level under the 6-digit rounding.
def _d3(a, b, c, d, e, f_, g, h, i):
    return (f"({a}*({e}*{i} - {f_}*{h}) - {b}*({d}*{i} - {f_}*{g})"
            f" + {c}*({d}*{h} - {e}*{g}))")


def _newton(src, b0, b1, b2, out):
    det = _d3("sw", "swx1", "swx2", "swx1", "swx11", "swx12",
              "swx2", "swx12", "swx22")
    d0 = _d3("g0", "swx1", "swx2", "g1", "swx11", "swx12",
             "g2", "swx12", "swx22")
    d1 = _d3("sw", "g0", "swx2", "swx1", "g1", "swx12",
             "swx2", "g2", "swx22")
    d2 = _d3("sw", "swx1", "g0", "swx1", "swx11", "g1",
             "swx2", "swx12", "g2")
    return (f"{out} AS (SELECT {b0} + {d0} / {det} AS b0, "
            f"{b1} + {d1} / {det} AS b1, "
            f"{b2} + {d2} / {det} AS b2 FROM {src})")


_moms = ("sum(w) AS sw, sum(w*x1) AS swx1, sum(w*x2) AS swx2, "
         "sum(w*x1*x1) AS swx11, sum(w*x1*x2) AS swx12, "
         "sum(w*x2*x2) AS swx22, sum(y - p) AS g0, "
         "sum((y - p)*x1) AS g1, sum((y - p)*x2) AS g2")
_irls_prefix = f"""
        WITH d AS (
          SELECT (event_type = 'purchase')::INT::DOUBLE AS y,
                 value / 100.0 AS x1,
                 extract(hour FROM ts) / 24.0 AS x2
          FROM events),
        p1 AS (SELECT y, x1, x2,
                      1.0 / (1.0 + exp(-(0.0 + 0.0*x1 + 0.0*x2))) AS p
               FROM d),
        m1 AS (SELECT {_moms}
               FROM (SELECT y, x1, x2, p, p * (1.0 - p) AS w FROM p1)),
        {_newton('m1', '0.0', '0.0', '0.0', 'bb1')},
        p2 AS (SELECT y, x1, x2,
                      1.0 / (1.0 + exp(-(b0 + b1*x1 + b2*x2))) AS p
               FROM d, bb1),
        m2 AS (SELECT {_moms}
               FROM (SELECT y, x1, x2, p, p * (1.0 - p) AS w FROM p2)),
        {_newton('m2', '(SELECT b0 FROM bb1)', '(SELECT b1 FROM bb1)',
                 '(SELECT b2 FROM bb1)', 'bb2')}"""


@query(oracle="""
        WITH pu AS (
          SELECT user_id,
                 coalesce(sum(CASE WHEN ts < TIMESTAMP
                                        '2024-01-16 00:00:00'
                              THEN CAST(value AS DECIMAL(18,6)) END),
                          0) AS x,
                 coalesce(sum(CASE WHEN ts >= TIMESTAMP
                                        '2024-01-16 00:00:00'
                              THEN CAST(value AS DECIMAL(18,6)) END),
                          0) AS y
          FROM events GROUP BY 1),
        m AS (SELECT count(*) AS n,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(x * y) AS sxy, sum(x * x) AS sxx,
                     sum(y * y) AS syy
              FROM pu),
        d AS (SELECT CAST(n AS DOUBLE) AS n,
                     CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
                     CAST(sxy AS DOUBLE) AS sxy,
                     CAST(sxx AS DOUBLE) AS sxx,
                     CAST(syy AS DOUBLE) AS syy,
                     CAST(n AS BIGINT) AS n_users
              FROM m),
        s AS (SELECT n_users,
                     sxx / n - (sx / n) * (sx / n) AS var_x,
                     syy / n - (sy / n) * (sy / n) AS var_y,
                     sxy / n - (sx / n) * (sy / n) AS cov
              FROM d),
        t AS (SELECT *, cov / var_x AS theta FROM s)
        SELECT n_users,
               round(theta, 6) AS theta,
               round(var_y, 4) AS var_y,
               round(var_y - theta * theta * var_x, 4)
                 AS var_y_adjusted,
               round(1.0 - (var_y - theta * theta * var_x) / var_y, 6)
                 AS variance_reduction
        FROM t
    """)
def stat_cuped(spark, sf):
    # CUPED variance reduction (Deng et al., WSDM'13): per-user
    # pre-period spend (days 1–15) as the covariate X against
    # post-period spend Y; θ = cov(X,Y)/var(X), adjusted metric
    # variance var(Y)−θ²var(X), reduction = ρ². ONE partial-agg'd
    # per-user rollup (DECIMAL sums — exact), then five exact
    # moments in one more agg; only the final scalar division is
    # floating, so the replay is bit-identical. The number that
    # decides how much experiment traffic CUPED saves
    ev = _load(spark, sf, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    v = F.col("value").cast("decimal(18,6)")
    pu = (ev.groupBy("user_id")
          .agg(F.coalesce(F.sum(F.when(
              F.col("ts").cast("timestamp") < cutoff, v)),
              F.lit(0).cast("decimal(18,6)")).alias("x"),
              F.coalesce(F.sum(F.when(
                  F.col("ts").cast("timestamp") >= cutoff, v)),
                  F.lit(0).cast("decimal(18,6)")).alias("y")))
    m = pu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    var_x = sxx / n - (sx / n) * (sx / n)
    var_y = syy / n - (sy / n) * (sy / n)
    cov = sxy / n - (sx / n) * (sy / n)
    theta = cov / var_x
    var_adj = var_y - theta * theta * var_x
    return m.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(var_y, 4).alias("var_y"),
        F.round(var_adj, 4).alias("var_y_adjusted"),
        F.round(1.0 - var_adj / var_y, 6)
        .alias("variance_reduction"))


@query(oracle="""
        WITH cells AS (
          SELECT user_id % 2 = 1 AS treated,
                 ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
                 count(*) AS n,
                 sum(CAST(value AS DECIMAL(18,6))) AS s
          FROM events GROUP BY 1, 2),
        g AS (SELECT
          max(CASE WHEN treated AND NOT post
                   THEN CAST(s AS DOUBLE) / n END) AS m_t_pre,
          max(CASE WHEN treated AND post
                   THEN CAST(s AS DOUBLE) / n END) AS m_t_post,
          max(CASE WHEN NOT treated AND NOT post
                   THEN CAST(s AS DOUBLE) / n END) AS m_c_pre,
          max(CASE WHEN NOT treated AND post
                   THEN CAST(s AS DOUBLE) / n END) AS m_c_post
          FROM cells)
        SELECT round(m_t_pre, 6) AS treat_pre,
               round(m_t_post, 6) AS treat_post,
               round(m_c_pre, 6) AS control_pre,
               round(m_c_post, 6) AS control_post,
               round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6)
                 AS did_estimate
        FROM g
    """)
def stat_did(spark, sf):
    # difference-in-differences on the (user-parity treatment ×
    # pre/post) panel: DiD = (T,post − T,pre) − (C,post − C,pre)
    # over per-cell mean event values — four exact-DECIMAL cell
    # sums from ONE pass; the causal-inference workhorse when
    # randomization isn't available
    ev = _load(spark, sf, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cells = (ev.groupBy(
        (F.col("user_id") % 2 == 1).alias("treated"),
        (F.col("ts").cast("timestamp") >= cutoff).alias("post"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(18,6)"))
             .alias("s")))
    g = cells.agg(*[
        F.max(F.when((F.col("treated") == t)
                     & (F.col("post") == p),
                     F.col("s").cast("double") / F.col("n")))
        .alias(f"m_{'t' if t else 'c'}_{'post' if p else 'pre'}")
        for t in (True, False) for p in (True, False)])
    did = ((F.col("m_t_post") - F.col("m_t_pre"))
           - (F.col("m_c_post") - F.col("m_c_pre")))
    return g.select(
        F.round("m_t_pre", 6).alias("treat_pre"),
        F.round("m_t_post", 6).alias("treat_post"),
        F.round("m_c_pre", 6).alias("control_pre"),
        F.round("m_c_post", 6).alias("control_post"),
        F.round(did, 6).alias("did_estimate"))


@query(oracle=lambda: f"""
        WITH y AS (SELECT CAST(event_id AS VARCHAR) AS id,
                          CAST(value AS DECIMAL(18,6)) AS y
                   FROM events
                   WHERE event_type = 'purchase'
                     AND value IS NOT NULL),
        reps AS (SELECT id, y, unnest(range(0, 64)) AS b FROM y),
        uu AS (SELECT b, y,
                      ('0x' || substr(md5('boot:' || CAST(b AS VARCHAR)
                                          || ':' || id), 1, 15))
                        ::BIGINT / CAST(1152921504606846976 AS DOUBLE)
                        AS u
               FROM reps),
        ww AS (SELECT b, y, CASE {_pcase} ELSE 9 END AS w FROM uu),
        means AS (SELECT b,
                         CAST(sum(y * w) AS DOUBLE) / sum(w) AS m
                  FROM ww GROUP BY 1),
        pt AS (SELECT count(*) AS n,
                      CAST(sum(y) AS DOUBLE) / count(*) AS pm
               FROM y),
        ci AS (SELECT quantile_cont(m, 0.025) AS lo,
                      quantile_cont(m, 0.975) AS hi
               FROM means)
        SELECT CAST(n AS BIGINT) AS n,
               round(pm, 6) AS point_mean,
               round(lo, 6) AS ci_lo,
               round(hi, 6) AS ci_hi
        FROM pt CROSS JOIN ci
    """)
def stat_bootstrap_ci(spark, sf):
    # deterministic Poisson bootstrap (Chamandy et al. 2012): 95%
    # CI for the mean purchase value, 64 replicates riding ONE
    # map pass (row → per-replicate Poisson(1) weights from the
    # md5 uniform through literal inverse-CDF thresholds) into a
    # 64-row replicate-means table — the resample-with-replacement
    # shuffle never happens (operators/sampling.py::
    # poisson_bootstrap_mean)
    ev = _load(spark, sf, "events") \
        .filter(F.col("event_type") == "purchase")
    return poisson_bootstrap_mean(ev, "event_id", "value",
                                  b=64, salt="boot")


# KMV distinct sketch: identical 60-bit lane, window rank, and
# (k−1)·2^60/h_(k) estimate; 1152921504606846976 = 2^60
@query(oracle="""
        WITH hashed AS (
          SELECT DISTINCT l_returnflag, l_linestatus,
                 ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),
                                 1, 15))::BIGINT AS h
          FROM lineitem WHERE l_partkey IS NOT NULL),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY l_returnflag, l_linestatus
            ORDER BY h) AS rn
          FROM hashed),
        per_group AS (
          SELECT l_returnflag, l_linestatus,
                 count(*) AS n_distinct_exact,
                 max(CASE WHEN rn = 64 THEN h END) AS kth
          FROM ranked GROUP BY 1, 2)
        SELECT l_returnflag, l_linestatus, n_distinct_exact,
               round(CASE WHEN kth IS NULL
                     THEN CAST(n_distinct_exact AS DOUBLE)
                     ELSE 63.0 * 1152921504606846976.0
                          / CAST(kth AS DOUBLE) END, 4)
                 AS n_distinct_kmv
        FROM per_group
    """, headline=True)
def sketch_kmv_distinct(spark, sf):
    # KMV (k-minimum-values) distinct-cardinality sketch per
    # (returnflag, status): estimate (k−1)·2^60/h_(k) on the
    # portable 60-bit md5 lane, exact count alongside so the
    # estimation error is visible; groups under k distinct stay
    # exact (operators/sketches.py::kmv_distinct)
    return kmv_distinct(_load(spark, sf, "lineitem"),
                        ["l_returnflag", "l_linestatus"],
                        "l_partkey", k=64)


# count-min over token bigrams: same 60-bit lane mod 256, depth 4
@query(oracle="""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split(text, ' ')) AS tok,
                 generate_subscripts(string_split(text, ' '), 1)
                   AS pos
          FROM documents WHERE text IS NOT NULL),
        toks2 AS (SELECT doc_id, tok, pos FROM toks WHERE tok <> ''),
        bigrams AS (
          SELECT tok || ' ' || lead(tok) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS term,
                 lead(tok) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS nxt
          FROM toks2),
        terms AS (SELECT term FROM bigrams WHERE nxt IS NOT NULL),
        depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
        cells AS (
          SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                        || term), 1, 15))::BIGINT
                      % 256 AS bucket
          FROM terms, depths),
        bucket_counts AS (
          SELECT d, bucket, count(*) AS bucket_n
          FROM cells GROUP BY 1, 2),
        exact AS (SELECT term, count(*) AS n_exact
                  FROM terms GROUP BY 1),
        probes AS (
          SELECT term, d,
                 ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                     || term), 1, 15))::BIGINT
                   % 256 AS bucket
          FROM exact, depths),
        est AS (SELECT term, min(bucket_n) AS n_cms
                FROM probes JOIN bucket_counts USING (d, bucket)
                GROUP BY term)
        SELECT term, n_exact, n_cms FROM exact JOIN est USING (term)
    """, headline=True)
def sketch_cms_bigrams(spark, sf):
    # count-min frequency sketch over token BIGRAMS (≈vocab²
    # terms vs width 256 → real collisions): the d×w bucket
    # table is the ENTIRE shuffle — constant-size regardless of
    # vocabulary; exact counts ride along to expose the
    # overestimate (operators/sketches.py::cms_term_counts)
    docs = _load(spark, sf, "documents") \
        .filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok")) \
        .filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (toks
               .select("tok", F.lead("tok", 1).over(w).alias("nxt"))
               .filter(F.col("nxt").isNotNull())
               .select(F.concat_ws(" ", "tok", "nxt").alias("term")))
    return cms_term_counts(bigrams, depth=4, width=256)


# histogram quantile sketch: width = 110000/128 = 859.375 exactly;
# estimate = midpoint of first bin with cum ≥ ceil(q·n)
@query(oracle="""
        WITH cells AS (
          SELECT l_returnflag,
                 CAST(least(greatest(floor(
                   (l_extendedprice - 0.0) / 859.375), 0), 127)
                   AS INTEGER) AS bin,
                 count(*) AS c
          FROM lineitem GROUP BY 1, 2),
        cum AS (
          SELECT l_returnflag, bin,
                 sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(c) OVER (PARTITION BY l_returnflag) AS n
          FROM cells),
        ests AS (
          SELECT l_returnflag,
                 CAST(max(n) AS BIGINT) AS n,
                 0.0 + (min(CASE WHEN cum >= ceil(n * 0.5)
                            THEN bin END) + 0.5) * 859.375 AS q50_est,
                 0.0 + (min(CASE WHEN cum >= ceil(n * 0.95)
                            THEN bin END) + 0.5) * 859.375 AS q95_est
          FROM cum GROUP BY 1),
        exact AS (
          SELECT l_returnflag,
                 round(quantile_cont(l_extendedprice, 0.5), 6)
                   AS q50_exact,
                 round(quantile_cont(l_extendedprice, 0.95), 6)
                   AS q95_exact
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, n, q50_est, q95_est, q50_exact, q95_exact
        FROM ests JOIN exact USING (l_returnflag)
    """)
def sketch_histogram_quantiles(spark, sf):
    # mergeable fixed-range histogram quantile sketch: 128 cells
    # per group IS the whole shuffle, estimates = first bin whose
    # cumulative count reaches ceil(q·n); exact interpolated
    # percentiles ride along to expose the error
    # (operators/sketches.py::histogram_quantiles)
    return histogram_quantiles(
        _load(spark, sf, "lineitem"), ["l_returnflag"],
        "l_extendedprice", lo=0.0, hi=110000.0, bins=128,
        quantiles=(0.5, 0.95))


# KMV overlap: identical window/merge/inclusion–exclusion replay;
# arithmetic on ALREADY-ROUNDED singles/union keeps both engines
# on the same doubles
@query(oracle="""
        WITH hashed AS (
          SELECT DISTINCT event_type AS s,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                 1, 15))::BIGINT AS h
          FROM events WHERE user_id IS NOT NULL),
        sk AS (SELECT s, h, rn FROM (
          SELECT s, h, row_number() OVER (PARTITION BY s
                                          ORDER BY h) AS rn
          FROM hashed) WHERE rn <= 64),
        per_set AS (SELECT s, count(*) AS n_sk,
                           max(CASE WHEN rn = 64 THEN h END) AS kth
                    FROM sk GROUP BY 1),
        singles AS (SELECT s,
                           round(CASE WHEN kth IS NULL
                                 THEN n_sk::DOUBLE
                                 ELSE 63.0 * 1152921504606846976.0
                                      / kth::DOUBLE END, 4) AS e
                    FROM per_set),
        pairs AS (SELECT a.s AS set_a, b.s AS set_b
                  FROM (SELECT DISTINCT s FROM sk) a
                  JOIN (SELECT DISTINCT s FROM sk) b ON a.s < b.s),
        merged AS (
          SELECT DISTINCT set_a, set_b, h FROM (
            SELECT p.set_a, p.set_b, k1.h
            FROM pairs p JOIN sk k1 ON k1.s = p.set_a
            UNION ALL
            SELECT p.set_a, p.set_b, k2.h
            FROM pairs p JOIN sk k2 ON k2.s = p.set_b)),
        uk AS (SELECT set_a, set_b, count(*) AS n_sk,
                      max(CASE WHEN rn = 64 THEN h END) AS kth
               FROM (SELECT set_a, set_b, h,
                            row_number() OVER (
                              PARTITION BY set_a, set_b
                              ORDER BY h) AS rn
                     FROM merged) WHERE rn <= 64 GROUP BY 1, 2),
        eu AS (SELECT set_a, set_b,
                      round(CASE WHEN kth IS NULL THEN n_sk::DOUBLE
                            ELSE 63.0 * 1152921504606846976.0
                                 / kth::DOUBLE END, 4) AS est_union
               FROM uk),
        exact_i AS (SELECT x.s AS set_a, y.s AS set_b,
                           count(*) AS n_intersect_exact
                    FROM hashed x JOIN hashed y
                      ON x.h = y.h AND x.s < y.s GROUP BY 1, 2)
        SELECT eu.set_a, eu.set_b, ea.e AS est_a, eb.e AS est_b,
               eu.est_union,
               greatest(round(ea.e + eb.e - eu.est_union, 4), 0.0)
                 AS est_intersect,
               round(greatest(round(ea.e + eb.e - eu.est_union, 4),
                              0.0) / eu.est_union, 6) AS jaccard_est,
               CAST(coalesce(i.n_intersect_exact, 0) AS BIGINT)
                 AS n_intersect_exact
        FROM eu JOIN singles ea ON ea.s = eu.set_a
        JOIN singles eb ON eb.s = eu.set_b
        LEFT JOIN exact_i i USING (set_a, set_b)
    """)
def sketch_kmv_overlap(spark, sf):
    # KMV sketch ALGEBRA: pairwise audience overlap between event
    # types — union sketch = k smallest of the two merged
    # sketches, intersection by inclusion–exclusion; per-pair
    # cost is O(k log k) on two k-row summaries, never a
    # |A|×|B| join; exact intersection rides along for error
    # visibility (operators/sketches.py::kmv_overlap)
    return kmv_overlap(_load(spark, sf, "events"),
                       "event_type", "user_id", k=64)


@query(oracle="""
        WITH mem AS (SELECT DISTINCT o_custkey AS k FROM orders
                     WHERE o_totalprice > 480000),
        lanes AS (SELECT unnest([1, 2, 3]) AS i),
        bits AS (SELECT DISTINCT
                   ('0x' || substr(md5('bloom' || i || ':' ||
                      CAST(k AS VARCHAR)), 1, 15))::BIGINT % 4096
                     AS pos
                 FROM mem CROSS JOIN lanes),
        pp AS (SELECT c_custkey,
                   ('0x' || substr(md5('bloom' || i || ':' ||
                      CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
                     % 4096 AS pos
               FROM customer CROSS JOIN lanes),
        hit AS (SELECT c_custkey,
                       sum(CASE WHEN pos IN (SELECT pos FROM bits)
                           THEN 1 ELSE 0 END) = 3 AS might_contain
                FROM pp GROUP BY 1)
        SELECT h.c_custkey, h.might_contain,
               (m.k IS NOT NULL) AS is_member
        FROM hit h LEFT JOIN mem m ON h.c_custkey = m.k
    """)
def sketch_bloom_filter(spark, sf):
    # Explicit Bloom filter as a first-class, persistable sketch:
    # build the bit table over high-value customers (the filter
    # is ≤ m rows regardless of input size → broadcasts at any
    # scale), probe ALL customers, and emit might_contain next to
    # exact membership so false positives are visible data (no
    # false negatives by construction — the invariant the oracle
    # hash-checks). Same shape as Spark's runtime might_contain
    # join pruning, but deterministic md5 lanes ⇒ bit-replayable
    # (operators/sketches.py::bloom_build/bloom_probe)
    orders = _load(spark, sf, "orders")
    cust = _load(spark, sf, "customer")
    members = (orders.filter(F.col("o_totalprice") > 480000)
               .select(F.col("o_custkey").alias("k")).distinct())
    bits = bloom_build(members, "k", m=4096, d=3)
    probed = bloom_probe(bits, cust.select("c_custkey"),
                         "c_custkey", m=4096, d=3)
    return (probed
            .join(members.withColumnRenamed("k", "c_custkey")
                  .withColumn("is_member", F.lit(True)),
                  "c_custkey", "left")
            .select("c_custkey", "might_contain",
                    F.coalesce("is_member", F.lit(False))
                    .alias("is_member")))


@query(oracle="""
        WITH s AS (
          SELECT count(*)::DOUBLE AS n,
                 sum(l_quantity::DECIMAL(12,2))::DOUBLE AS sx1,
                 sum(l_discount::DECIMAL(12,2))::DOUBLE AS sx2,
                 sum(l_extendedprice::DECIMAL(12,2))::DOUBLE AS sy,
                 sum(l_quantity::DECIMAL(12,2)
                     * l_quantity::DECIMAL(12,2))::DOUBLE AS sx11,
                 sum(l_quantity::DECIMAL(12,2)
                     * l_discount::DECIMAL(12,2))::DOUBLE AS sx12,
                 sum(l_discount::DECIMAL(12,2)
                     * l_discount::DECIMAL(12,2))::DOUBLE AS sx22,
                 sum(l_quantity::DECIMAL(12,2)
                     * l_extendedprice::DECIMAL(12,2))::DOUBLE
                   AS sx1y,
                 sum(l_discount::DECIMAL(12,2)
                     * l_extendedprice::DECIMAL(12,2))::DOUBLE
                   AS sx2y,
                 sum(l_extendedprice::DECIMAL(12,2)
                     * l_extendedprice::DECIMAL(12,2))::DOUBLE AS syy
          FROM lineitem),
        d AS (
          SELECT *,
            (n * (sx11 * sx22 - sx12 * sx12)
             - sx1 * (sx1 * sx22 - sx12 * sx2)
             + sx2 * (sx1 * sx12 - sx11 * sx2)) AS det,
            (sy * (sx11 * sx22 - sx12 * sx12)
             - sx1 * (sx1y * sx22 - sx12 * sx2y)
             + sx2 * (sx1y * sx12 - sx11 * sx2y)) AS det0,
            (n * (sx1y * sx22 - sx12 * sx2y)
             - sy * (sx1 * sx22 - sx12 * sx2)
             + sx2 * (sx1 * sx2y - sx1y * sx2)) AS det1,
            (n * (sx11 * sx2y - sx1y * sx12)
             - sx1 * (sx1 * sx2y - sx1y * sx2)
             + sy * (sx1 * sx12 - sx11 * sx2)) AS det2
          FROM s)
        SELECT n::BIGINT AS n,
               round(det0 / det, 4) AS intercept,
               round(det1 / det, 4) AS beta1,
               round(det2 / det, 4) AS beta2,
               round(1 - (syy - (det0 / det) * sy
                              - (det1 / det) * sx1y
                              - (det2 / det) * sx2y)
                       / (syy - sy * sy / n), 6) AS r2
        FROM d
    """)
def ml_ols_regression(spark, sf):
    # Distributed closed-form OLS (normal equations): ONE
    # map-side partial-agg pass collects 10 exact DECIMAL
    # moments, the 3×3 Cramer solve is scalar math on the merged
    # row — the MLlib WeightedLeastSquares shape, zero iterations
    # and zero vector shuffles at any scale. Fit:
    # l_extendedprice ~ l_quantity + l_discount
    # (operators/regression.py::ols_fit)
    li = _load(spark, sf, "lineitem")
    fit = ols_fit(li, "l_extendedprice", "l_quantity",
                  "l_discount")
    return fit.select(
        "n",
        F.round("intercept", 4).alias("intercept"),
        F.round("beta1", 4).alias("beta1"),
        F.round("beta2", 4).alias("beta2"),
        F.round("r2", 6).alias("r2"))


@query(oracle="""
        SELECT p_name, count(DISTINCT p_type) AS n_types,
               count(*) AS n_rows
        FROM part GROUP BY 1 HAVING count(DISTINCT p_type) > 1
    """)
def dq_fd_violations(spark, sf):
    # Data-quality audit: functional-dependency check
    # p_name → p_type; emit the violating LHS groups with their
    # RHS cardinality — one partial-agg'd groupBy over a
    # two-column projection (the scan reads 2 columns at any
    # scale)
    part = _load(spark, sf, "part")
    return (part.groupBy("p_name")
            .agg(F.countDistinct("p_type").alias("n_types"),
                 F.count(F.lit(1)).alias("n_rows"))
            .filter(F.col("n_types") > 1))


@query(oracle="""
        SELECT digit, n,
               round(n / tot, 6) AS share,
               round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford,
               round(round(n / tot, 6)
                     - round(ln(1.0 + 1.0 / digit) / ln(10.0), 6), 6)
                 AS delta
        FROM (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1)::INT AS digit,
                     count(*) AS n,
                     (SELECT count(*) FROM orders)::DOUBLE AS tot
              FROM orders GROUP BY 1) t
    """)
def dq_benford_digits(spark, sf):
    # Benford first-digit audit over order totals: observed share
    # per leading digit vs ln(1+1/d)/ln(10). The digit comes from
    # the BIGINT string of floor(x) — integer-to-string is
    # engine-portable where log10-of-double boundary cases are
    # not
    o = _load(spark, sf, "orders")
    d = F.substring(F.floor("o_totalprice").cast("bigint")
                    .cast("string"), 1, 1).cast("int")
    tot = o.count()
    return (o.groupBy(d.alias("digit"))
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("share",
                        F.round(F.col("n") / F.lit(tot), 6))
            .withColumn("benford",
                        F.round(F.log(1.0 + 1.0 / F.col("digit"))
                                / F.log(F.lit(10.0)), 6))
            .withColumn("delta",
                        F.round(F.col("share")
                                - F.col("benford"), 6)))


@query(oracle="""
        WITH joint AS (
          SELECT c_mktsegment, o_orderpriority, count(*) AS nij
          FROM customer JOIN orders ON c_custkey = o_custkey
          GROUP BY 1, 2),
        g AS (SELECT *,
                sum(nij) OVER (PARTITION BY c_mktsegment) AS r,
                sum(nij) OVER (PARTITION BY o_orderpriority) AS c,
                sum(nij) OVER () AS n
              FROM joint)
        SELECT max(n)::BIGINT AS n,
               round(sum(pow(nij - r * c / n, 2)
                         / (r * c / n)), 4) AS chi2,
               ((count(DISTINCT c_mktsegment) - 1)
                * (count(DISTINCT o_orderpriority) - 1))::BIGINT
                 AS dof,
               round(sqrt(sum(pow(nij - r * c / n, 2)
                              / (r * c / n))
                          / (max(n)
                             * least(count(DISTINCT c_mktsegment)
                                       - 1,
                                     count(DISTINCT o_orderpriority)
                                       - 1))), 6) AS cramers_v,
               round(sum((nij / n) * log2(nij * n
                          / (r * c))), 6) AS mi_bits
        FROM g
    """)
def stat_contingency(spark, sf):
    # Categorical dependence datasheet for (market segment ×
    # order priority): chi², degrees of freedom, Cramér's V and
    # mutual information in ONE row. Joint counts are one
    # partial-agg'd groupBy (the only big-data pass); every
    # later step runs on the 25-cell grid. All log/division
    # inputs are exact integer counts, so the scalar formulas
    # replay bit-for-bit
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    joint = (cust.join(orders,
                       cust.c_custkey == orders.o_custkey)
             .groupBy("c_mktsegment", "o_orderpriority")
             .agg(F.count(F.lit(1)).alias("nij")))
    wr = Window.partitionBy("c_mktsegment")
    wc = Window.partitionBy("o_orderpriority")
    wall = Window.partitionBy()
    g = (joint
         .withColumn("r", F.sum("nij").over(wr))
         .withColumn("c", F.sum("nij").over(wc))
         .withColumn("n", F.sum("nij").over(wall)))
    e = F.col("r") * F.col("c") / F.col("n")
    cell_chi = F.pow(F.col("nij") - e, 2) / e
    cell_mi = ((F.col("nij") / F.col("n"))
               * F.log2(F.col("nij") * F.col("n")
                        / (F.col("r") * F.col("c"))))
    return (g.agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(F.sum(cell_chi), 4).alias("chi2"),
        ((F.countDistinct("c_mktsegment") - 1)
         * (F.countDistinct("o_orderpriority") - 1))
        .cast("bigint").alias("dof"),
        F.round(F.sqrt(F.sum(cell_chi) / (F.max("n")
                * F.least(F.countDistinct("c_mktsegment") - 1,
                          F.countDistinct("o_orderpriority")
                          - 1))), 6).alias("cramers_v"),
        F.round(F.sum(cell_mi), 6).alias("mi_bits")))


@query(oracle="""
        WITH rev AS (
          SELECT c_mktsegment, c_custkey,
                 sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
          FROM customer JOIN orders ON c_custkey = o_custkey
          GROUP BY 1, 2),
        ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY x ASC, c_custkey ASC) AS i
          FROM rev),
        g AS (SELECT c_mktsegment,
                     count(*) AS n_customers,
                     CAST(sum(x) AS DOUBLE) AS tot,
                     CAST(sum(i * x) AS DOUBLE) AS wtot
              FROM ranked GROUP BY 1)
        SELECT c_mktsegment, n_customers,
               round(tot, 2) AS total_revenue,
               round(2.0 * wtot / (n_customers * tot)
                     - (n_customers + 1) / CAST(n_customers AS DOUBLE),
                     6) AS gini
        FROM g
    """)
def stat_gini_concentration(spark, sf):
    # Revenue inequality per market segment: Gini coefficient via
    # the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    # customers sorted by revenue. Revenue is summed as
    # DECIMAL(18,2) (exact, order-free), rank·revenue stays
    # DECIMAL, so both Σ terms are exact integers-scaled values —
    # only the final ratio is floating. Ties don't matter: equal
    # xᵢ make Σ i·xᵢ invariant under any tie order. One shuffle
    # to the per-customer rollup, one per-segment sort for the
    # rank window (segment-partitioned range sort at scale), then
    # a 5-row agg
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    rev = (cust.join(orders, cust.c_custkey == orders.o_custkey)
           .groupBy("c_mktsegment", "c_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("x")))
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.asc("x"), F.asc("c_custkey")))
    ranked = rev.withColumn("i", F.row_number().over(w))
    return (ranked.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("x").cast("double").alias("_tot"),
                 F.sum(F.col("i") * F.col("x")).cast("double")
                 .alias("_wtot"))
            .select("c_mktsegment", "n_customers",
                    F.round("_tot", 2).alias("total_revenue"),
                    F.round(
                        2.0 * F.col("_wtot")
                        / (F.col("n_customers") * F.col("_tot"))
                        - (F.col("n_customers") + 1)
                        / F.col("n_customers").cast("double"),
                        6).alias("gini")))


@query(oracle="""
        WITH per_user AS (
          SELECT user_id % 2 AS variant,
                 max(CASE WHEN event_type = 'purchase'
                          AND value > 200
                          THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY user_id),
        v AS (SELECT variant, count(*) AS n, sum(conv) AS c
              FROM per_user GROUP BY 1),
        g AS (SELECT
                CAST(max(CASE WHEN variant = 0 THEN n END) AS BIGINT)
                  AS n_a,
                CAST(max(CASE WHEN variant = 0 THEN c END) AS BIGINT)
                  AS conv_a,
                CAST(max(CASE WHEN variant = 1 THEN n END) AS BIGINT)
                  AS n_b,
                CAST(max(CASE WHEN variant = 1 THEN c END) AS BIGINT)
                  AS conv_b
              FROM v),
        s AS (SELECT *,
                conv_a / CAST(n_a AS DOUBLE) AS pa,
                conv_b / CAST(n_b AS DOUBLE) AS pb,
                (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) AS pp
              FROM g),
        z AS (SELECT *,
                (pb - pa) / sqrt(pp * (1 - pp)
                                 * (1.0 / n_a + 1.0 / n_b)) AS zs
              FROM s)
        SELECT n_a, conv_a, n_b, conv_b,
               round(pa, 6) AS rate_a,
               round(pb, 6) AS rate_b,
               round(zs, 6) AS z_score,
               abs(zs) > 1.959964 AS significant_95
        FROM z
    """)
def stat_ab_ztest(spark, sf):
    # Two-proportion z-test on high-value-purchase conversion
    # (a purchase with value > 200 — plain purchase saturates at
    # ~100% of users in this corpus, a degenerate test) between
    # two deterministic user buckets (user_id parity stands in
    # for the hashed assignment a real experiment platform uses).
    # Per-user conversion collapses in ONE partial-agg'd groupBy
    # on user_id; the test statistic is scalar math over four
    # exact integer counts — pooled p̂, z = Δp/√(p̂(1−p̂)(1/n₀+1/n₁))
    # — so the replay is bit-identical
    ev = _load(spark, sf, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.max(((F.col("event_type") == "purchase")
                            & (F.col("value") > 200))
                           .cast("long")).alias("conv"))
                .select((F.col("user_id") % 2).alias("variant"),
                        "conv"))
    g = (per_user.groupBy("variant")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("conv").alias("c"))
         .agg(F.max(F.when(F.col("variant") == 0, F.col("n")))
              .alias("n_a"),
              F.max(F.when(F.col("variant") == 0, F.col("c")))
              .alias("conv_a"),
              F.max(F.when(F.col("variant") == 1, F.col("n")))
              .alias("n_b"),
              F.max(F.when(F.col("variant") == 1, F.col("c")))
              .alias("conv_b")))
    pa = F.col("conv_a") / F.col("n_a")
    pb = F.col("conv_b") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")) \
        / (F.col("n_a") + F.col("n_b"))
    z = (pb - pa) / F.sqrt(pp * (1 - pp)
                           * (1.0 / F.col("n_a")
                              + 1.0 / F.col("n_b")))
    return g.select(
        "n_a", "conv_a", "n_b", "conv_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > 1.959964).alias("significant_95"))


@query(oracle="""
        WITH agg AS (
          SELECT
            sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
              AS orderkey_not_null,
            sum(CASE WHEN l_quantity IS NOT NULL
                      AND (l_quantity < 1 OR l_quantity > 50)
                     THEN 1 ELSE 0 END) AS qty_1_50,
            sum(CASE WHEN l_discount IS NOT NULL
                      AND (l_discount < 0.0 OR l_discount > 0.05)
                     THEN 1 ELSE 0 END) AS discount_0_005,
            sum(CASE WHEN l_returnflag IS NOT NULL
                      AND l_returnflag NOT IN ('A', 'N', 'R')
                     THEN 1 ELSE 0 END) AS returnflag_enum,
            sum(CASE WHEN l_linestatus IS NOT NULL
                      AND NOT regexp_matches(l_linestatus, '^[OF]$')
                     THEN 1 ELSE 0 END) AS linestatus_shape,
            count(*) - count(DISTINCT (l_orderkey, l_linenumber))
              AS line_pk_unique
          FROM lineitem),
        fk AS (
          SELECT count(*) AS orphans FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)),
        rows_out("constraint", violations) AS (
          SELECT 'orderkey_not_null', orderkey_not_null FROM agg
          UNION ALL SELECT 'qty_1_50', qty_1_50 FROM agg
          UNION ALL SELECT 'discount_0_005', discount_0_005 FROM agg
          UNION ALL SELECT 'returnflag_enum', returnflag_enum FROM agg
          UNION ALL SELECT 'linestatus_shape', linestatus_shape FROM agg
          UNION ALL SELECT 'line_pk_unique', line_pk_unique FROM agg
          UNION ALL SELECT 'orderkey_fk', orphans FROM fk)
        SELECT "constraint", CAST(violations AS BIGINT) AS violations,
               violations = 0 AS passed
        FROM rows_out
    """)
def dq_constraint_suite(spark, sf):
    # Declarative DQ gate (Great Expectations / Deequ shape) over
    # lineitem: 6 row/set-level rules compile into ONE aggregate
    # scan + 1 anti-join pass for the FK rule
    # (operators/validate.py::check_constraints — at 10^12 rows
    # one-scan-for-all-rules is the feature); a rule set chosen
    # to exercise every rule type with both passing and binding
    # outcomes
    li = _load(spark, sf, "lineitem")
    orders = _load(spark, sf, "orders")
    rules = [
        {"name": "orderkey_not_null", "type": "not_null",
         "col": "l_orderkey"},
        {"name": "qty_1_50", "type": "range", "col": "l_quantity",
         "min": 1, "max": 50},
        {"name": "discount_0_005", "type": "range",
         "col": "l_discount", "min": 0.0, "max": 0.05},
        {"name": "returnflag_enum", "type": "enum",
         "col": "l_returnflag", "values": ["A", "N", "R"]},
        {"name": "linestatus_shape", "type": "regex",
         "col": "l_linestatus", "pattern": "^[OF]$"},
        {"name": "line_pk_unique", "type": "unique",
         "cols": ["l_orderkey", "l_linenumber"]},
        {"name": "orderkey_fk", "type": "foreign_key",
         "col": "l_orderkey", "ref": orders,
         "ref_col": "o_orderkey"},
    ]
    return check_constraints(li, rules)


@query(oracle="""
        WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS k
                   FROM lineitem WHERE l_partkey IS NOT NULL),
        depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
        cells AS (
          SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                        || k), 1, 15))::BIGINT
                      % 8192 AS bucket
          FROM k, depths),
        bc AS (SELECT d, bucket, count(*) AS n
               FROM cells GROUP BY 1, 2),
        ip AS (SELECT d, sum(n * n) AS ip FROM bc GROUP BY 1),
        est AS (SELECT CASE WHEN count(*) < 4 THEN 0
                            ELSE min(ip) END AS est_join_size
                FROM ip),
        f AS (SELECT k, count(*) AS fk FROM k GROUP BY 1),
        ex AS (SELECT sum(fk * fk) AS exact_join_size,
                      sum(fk) AS n FROM f)
        SELECT CAST(n AS BIGINT) AS n_left,
               CAST(n AS BIGINT) AS n_right,
               CAST(exact_join_size AS BIGINT) AS exact_join_size,
               CAST(est_join_size AS BIGINT) AS est_join_size
        FROM ex CROSS JOIN est
    """)
def sketch_join_size(spark, sf):
    # Join-cardinality estimation WITHOUT joining: the AMS/CMS
    # inner-product estimator on the lineitem×lineitem self-join
    # over l_partkey (= the second frequency moment F₂, the
    # skew statistic a join planner needs). Each side collapses
    # to a depth×width bucket table — KBs of shuffle at any
    # scale; the exact Σf² companion rides along for error
    # inspection (operators/sketches.py::cms_join_size)
    li = _load(spark, sf, "lineitem")
    return cms_join_size(li, li, "l_partkey", "l_partkey",
                         depth=4, width=8192)


@query(oracle="""
        WITH base AS (
          SELECT c_mktsegment AS cat,
                 ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                                 1, 15))::BIGINT % 5 AS fold,
                 CAST(o_totalprice AS DECIMAL(18,6)) AS t
          FROM customer JOIN orders ON c_custkey = o_custkey
          WHERE o_totalprice IS NOT NULL),
        pf AS (SELECT cat, fold, count(*) AS n_cf, sum(t) AS s_cf
               FROM base GROUP BY 1, 2),
        g AS (SELECT *,
                sum(n_cf) OVER (PARTITION BY cat) AS n_c,
                sum(s_cf) OVER (PARTITION BY cat) AS s_c,
                CAST(sum(s_cf) OVER () / sum(n_cf) OVER () AS DOUBLE)
                  AS mu
              FROM pf)
        SELECT cat AS c_mktsegment, CAST(fold AS INT) AS fold,
               CAST(n_cf AS BIGINT) AS n_fold,
               round((CAST(s_c - s_cf AS DOUBLE) + 10.0 * mu)
                     / (n_c - n_cf + 10.0), 6) AS encoding
        FROM g
    """)
def ml_target_encoding(spark, sf):
    # K-fold leave-one-fold-out target encoding of the market
    # segment against order value — the leakage-free
    # high-cardinality-categorical feature (sklearn/CatBoost
    # shape) via the fold-marginal decomposition: ONE partial-agg
    # pass over the facts into a (|cats|·K)-row table, exact
    # DECIMAL sums, md5 folds (operators/features.py)
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    facts = (cust.join(orders, cust.c_custkey == orders.o_custkey)
             .select("o_orderkey", "c_mktsegment", "o_totalprice"))
    return target_encode_loo(facts, "o_orderkey", "c_mktsegment",
                             "o_totalprice", n_folds=5,
                             prior_weight=10.0)


@query(oracle="""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents
          WHERE text IS NOT NULL AND doc_id < 1000),
        t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5('b:' || tok), 1, 15))::BIGINT
                   % 64 AS bucket,
                 CASE WHEN ('0x' || substr(md5('s:' || tok), 1, 15))
                             ::BIGINT % 2 = 1
                      THEN 1 ELSE -1 END AS s
          FROM t2)
        SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS value
        FROM hashed GROUP BY 1, 2 HAVING sum(s) <> 0
    """)
def ml_feature_hash(spark, sf):
    # the hashing trick over document tokens: unbounded vocab →
    # fixed 64-bucket signed-hash space, sparse (doc, bucket,
    # value) rows — no vocabulary pass, no fitted state, ONE
    # groupBy (operators/features.py::feature_hash)
    docs = (_load(spark, sf, "documents")
            .filter((F.col("text").isNotNull())
                    & (F.col("doc_id") < 1000)))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " "))
        .alias("tok")).filter(F.col("tok") != "")
    return feature_hash(toks, "doc_id", "tok", dim=64)


@query(oracle="""
        WITH g AS (
          SELECT count(*) AS n,
            sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nu1,
            count(DISTINCT o_orderkey) AS nd1,
            CAST(min(o_orderkey) AS VARCHAR) AS mn1,
            CAST(max(o_orderkey) AS VARCHAR) AS mx1,
            sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nu2,
            count(DISTINCT o_custkey) AS nd2,
            CAST(min(o_custkey) AS VARCHAR) AS mn2,
            CAST(max(o_custkey) AS VARCHAR) AS mx2,
            sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nu3,
            count(DISTINCT o_orderstatus) AS nd3,
            min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3,
            sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nu4,
            count(DISTINCT o_orderpriority) AS nd4,
            min(o_orderpriority) AS mn4, max(o_orderpriority) AS mx4,
            sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nu5,
            count(DISTINCT o_totalprice) AS nd5,
            CAST(min(o_totalprice) AS VARCHAR) AS mn5,
            CAST(max(o_totalprice) AS VARCHAR) AS mx5
          FROM orders),
        rows_out(column_name, n_null, n_distinct, min_val, max_val) AS (
          SELECT 'o_orderkey', nu1, nd1, mn1, mx1 FROM g
          UNION ALL SELECT 'o_custkey', nu2, nd2, mn2, mx2 FROM g
          UNION ALL SELECT 'o_orderstatus', nu3, nd3, mn3, mx3 FROM g
          UNION ALL SELECT 'o_orderpriority', nu4, nd4, mn4, mx4 FROM g
          UNION ALL SELECT 'o_totalprice', nu5, nd5, mn5, mx5 FROM g)
        SELECT column_name, (SELECT n FROM g) AS n_rows,
               CAST(n_null AS BIGINT) AS n_null,
               round(n_null / CAST((SELECT n FROM g) AS DOUBLE), 6)
                 AS null_frac,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               min_val, max_val
        FROM rows_out
    """)
def dq_table_profile(spark, sf):
    # ANALYZE-style per-column statistics over orders (null frac,
    # exact NDV, min/max) — the optimizer-stats collector; all
    # row-level stats in ONE aggregate job, stack-unpivoted to a
    # row per column (operators/validate.py::profile_table)
    return profile_table(
        _load(spark, sf, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus",
         "o_orderpriority", "o_totalprice"])


@query(oracle=lambda: _irls_prefix + """
        SELECT 1 AS step, round(b0, 6) AS b0, round(b1, 6) AS b1,
               round(b2, 6) AS b2 FROM bb1
        UNION ALL
        SELECT 2, round(b0, 6), round(b1, 6), round(b2, 6) FROM bb2
    """, headline=True)
def ml_logreg_irls(spark, sf):
    # quality-classifier training (the GPT-3-style LR filter),
    # Spark-first: 2 IRLS/Newton iterations, each ONE map-side-
    # combined 9-moment pass (X'WX + X'(y-p)); the 3×3 Cramer
    # solve runs on the driver (operators/regression.py). Output =
    # the full optimization trace; the oracle replays both Newton
    # steps as unrolled SQL with the identical association order.
    ev = _load(spark, sf, "events").select(
        (F.col("event_type") == "purchase").cast("double")
        .alias("y"),
        (F.col("value") / F.lit(100.0)).alias("x1"),
        (F.hour("ts") / F.lit(24.0)).alias("x2"))
    fit = logreg_irls(ev, "y", "x1", "x2", n_iter=2)
    return fit.select("step", F.round("b0", 6).alias("b0"),
                      F.round("b1", 6).alias("b1"),
                      F.round("b2", 6).alias("b2"))


@query(oracle="""
        SELECT event_type, strftime(ts::DATE, '%Y-%m-%d') AS day,
               count(*) AS class_size,
               count(DISTINCT user_id) AS n_sensitive,
               count(*) >= 25 AS k25_ok,
               count(DISTINCT user_id) >= 10 AS l10_ok
        FROM events GROUP BY event_type, ts::DATE
    """)
def dq_k_anonymity(spark, sf):
    # privacy audit before data release: equivalence classes over
    # the quasi-identifier (event_type, day) with k-anonymity
    # (class size ≥ 25) and l-diversity (≥ 10 distinct sensitive
    # user_ids) verdicts — ONE partial-agg'd pass; at 10^12 rows
    # this is a word-count-shaped plan
    ev = _load(spark, sf, "events")
    return (ev.groupBy("event_type",
                       F.to_date("ts").alias("d"))
            .agg(F.count(F.lit(1)).alias("class_size"),
                 F.countDistinct("user_id").alias("n_sensitive"))
            .select("event_type",
                    F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "class_size", "n_sensitive",
                    (F.col("class_size") >= 25).alias("k25_ok"),
                    (F.col("n_sensitive") >= 10).alias("l10_ok")))


@query(oracle="""
        WITH g AS (SELECT event_type, ts::DATE AS d, count(*) AS n
                   FROM events GROUP BY 1, 2),
        h AS (SELECT event_type, d, n,
                ((('0x' || substr(md5('dp:' || event_type || ':'
                                      || strftime(d, '%Y-%m-%d')),
                             1, 15))::BIGINT % 1000000000)::DOUBLE
                 + 0.5) / 1000000000.0 AS u
              FROM g)
        SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
               round(n + (-sign(u - 0.5)
                          * ln(1.0 - 2.0 * abs(u - 0.5))), 6)
                 AS noisy_n
        FROM h
    """)
def dp_noisy_counts(spark, sf):
    # DP-SHAPED noisy release (mechanism plumbing, not privacy:
    # the Laplace draw is a DETERMINISTIC md5 inverse-CDF so the
    # oracle replays it bit-for-bit; swap in a real RNG for
    # production): per (event_type, day) count + Laplace(1/ε)
    # noise, ε=1 — count from one partial-agg'd pass, noise a
    # pure codegen expression of the group key
    ev = _load(spark, sf, "events")
    g = ev.groupBy("event_type", F.to_date("ts").alias("d")) \
        .agg(F.count(F.lit(1)).alias("n"))
    key = F.concat_ws(":", F.lit("dp"), F.col("event_type"),
                      F.col("d").cast("string"))
    u = ((F.conv(F.substring(F.md5(key), 1, 15), 16, 10)
          .cast("bigint") % 1000000000).cast("double")
         + 0.5) / 1000000000.0
    s = u - 0.5
    noise = -F.signum(s) * F.log(1.0 - 2.0 * F.abs(s))  # b = 1/ε = 1
    return g.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(F.col("n") + noise, 6).alias("noisy_n"))


@query(oracle="""
        WITH cut AS (SELECT min(ts::DATE) + 15 AS cut FROM events),
        binned AS (
          SELECT event_type,
                 least(floor(value / 100), 9)::INT AS bin,
                 CASE WHEN ts::DATE < (SELECT cut FROM cut)
                      THEN 1 ELSE 0 END AS is_ref
          FROM events),
        counts AS (SELECT event_type, bin,
                          sum(is_ref)::BIGINT AS r_b,
                          sum(1 - is_ref)::BIGINT AS c_b
                   FROM binned GROUP BY 1, 2),
        grid AS (SELECT event_type, i::INT AS bin
                 FROM (SELECT DISTINCT event_type FROM binned),
                      unnest(generate_series(0, 9)) t(i)),
        full_g AS (SELECT g.event_type, g.bin,
                          coalesce(c.r_b, 0) AS r_b,
                          coalesce(c.c_b, 0) AS c_b
                   FROM grid g LEFT JOIN counts c
                     ON g.event_type = c.event_type
                    AND g.bin = c.bin),
        tot AS (SELECT event_type, sum(r_b)::BIGINT AS r_tot,
                       sum(c_b)::BIGINT AS c_tot
                FROM full_g GROUP BY 1),
        terms AS (
          SELECT f.event_type,
                 ((f.r_b + 1)::DOUBLE / (t.r_tot + 10)
                  - (f.c_b + 1)::DOUBLE / (t.c_tot + 10))
                 * ln(((f.r_b + 1)::DOUBLE / (t.r_tot + 10))
                      / ((f.c_b + 1)::DOUBLE / (t.c_tot + 10)))
                   AS term
          FROM full_g f JOIN tot t USING (event_type))
        SELECT event_type, round(sum(term), 6) AS psi,
               round(sum(term), 6) > 0.2 AS drift
        FROM terms GROUP BY 1
    """)
def ml_psi_drift(spark, sf):
    # model/feature monitoring: population-stability index of the
    # value distribution, first-15-days reference vs the rest,
    # per event type. Fixed 10-bucket binning (value/100 clamped),
    # add-one smoothing over the FULL bin grid (types × 10 bins
    # fanned in so empty bins still contribute their smoothed
    # term), PSI = Σ (p−q)·ln(p/q). Two word-count-shaped passes;
    # the bin grid is dim-sized and broadcast.
    ev = _load(spark, sf, "events")
    split = ev.agg(F.date_add(F.min(F.to_date("ts")), 15)
                   .alias("cut"))
    binned = ev.crossJoin(F.broadcast(split)).select(
        "event_type",
        F.least(F.floor(F.col("value") / 100), F.lit(9))
        .cast("int").alias("bin"),
        F.when(F.to_date("ts") < F.col("cut"), 1).otherwise(0)
        .alias("is_ref"))
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum("is_ref").alias("r_b"),
        F.sum(1 - F.col("is_ref")).alias("c_b"))
    grid = (binned.select("event_type").distinct()
            .crossJoin(spark.range(10)
                       .select(F.col("id").cast("int")
                               .alias("bin"))))
    full = grid.join(counts, ["event_type", "bin"], "left") \
        .fillna(0, subset=["r_b", "c_b"])
    tot = full.groupBy("event_type").agg(
        F.sum("r_b").alias("r_tot"), F.sum("c_b").alias("c_tot"))
    p = (F.col("r_b") + 1).cast("double") / (F.col("r_tot") + 10)
    q = (F.col("c_b") + 1).cast("double") / (F.col("c_tot") + 10)
    term = (p - q) * F.log(p / q)
    return (full.join(F.broadcast(tot), "event_type")
            .groupBy("event_type")
            .agg(F.round(F.sum(term), 6).alias("psi"))
            .select("event_type", "psi",
                    (F.col("psi") > 0.2).alias("drift")))


@query(oracle="""
        WITH cut AS (SELECT min(ts::DATE) + 15 AS cut FROM events),
        marked AS (
          SELECT event_type, value,
                 CASE WHEN ts::DATE < (SELECT cut FROM cut)
                      THEN 1 ELSE 0 END AS is_ref
          FROM events),
        pv AS (SELECT event_type, value,
                      sum(is_ref)::BIGINT AS r,
                      sum(1 - is_ref)::BIGINT AS c
               FROM marked GROUP BY 1, 2),
        runs AS (
          SELECT event_type,
                 abs(sum(r) OVER (PARTITION BY event_type ORDER BY value
                                  ROWS UNBOUNDED PRECEDING)::DOUBLE
                     / sum(r) OVER (PARTITION BY event_type)
                   - sum(c) OVER (PARTITION BY event_type ORDER BY value
                                  ROWS UNBOUNDED PRECEDING)::DOUBLE
                     / sum(c) OVER (PARTITION BY event_type)) AS g,
                 sum(r) OVER (PARTITION BY event_type) AS n,
                 sum(c) OVER (PARTITION BY event_type) AS m
          FROM pv)
        SELECT event_type, round(max(g), 6) AS ks_d,
               max(g) > 1.358 * sqrt((n + m)::DOUBLE / (n * m))
                 AS drift
        FROM runs GROUP BY event_type, n, m
    """)
def ml_ks_drift(spark, sf):
    # two-sample Kolmogorov–Smirnov drift test on the value
    # distribution (same ref/current split as ml_psi_drift):
    # D = max_v |F_ref(v) − F_cur(v)| via per-(type, value) counts
    # + one running-sum window over distinct values — every ratio
    # is exact-integer-over-integer so both engines compute
    # bit-identical CDF gaps. Rejects at the α=0.05 large-sample
    # critical value 1.358·√((n+m)/(n·m)).
    ev = _load(spark, sf, "events")
    split = ev.agg(F.date_add(F.min(F.to_date("ts")), 15)
                   .alias("cut"))
    marked = ev.crossJoin(F.broadcast(split)).select(
        "event_type", "value",
        F.when(F.to_date("ts") < F.col("cut"), 1).otherwise(0)
        .alias("is_ref"))
    pv = marked.groupBy("event_type", "value").agg(
        F.sum("is_ref").alias("r"),
        F.sum(1 - F.col("is_ref")).alias("c"))
    wrun = Window.partitionBy("event_type").orderBy("value") \
        .rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy("event_type")
    gap = F.abs(F.sum("r").over(wrun).cast("double")
                / F.sum("r").over(tot)
                - F.sum("c").over(wrun).cast("double")
                / F.sum("c").over(tot))
    stat = pv.select("event_type",
                     gap.alias("g"),
                     F.sum("r").over(tot).alias("n"),
                     F.sum("c").over(tot).alias("m"))
    return (stat.groupBy("event_type", "n", "m")
            .agg(F.max("g").alias("d"))
            .select("event_type",
                    F.round(F.col("d"), 6).alias("ks_d"),
                    (F.col("d") > 1.358 * F.sqrt(
                        (F.col("n") + F.col("m")).cast("double")
                        / (F.col("n") * F.col("m"))))
                    .alias("drift")))


@query(oracle=lambda: _irls_prefix + """,
        scored AS (SELECT y,
                     1.0 / (1.0 + exp(-(b0 + b1*x1 + b2*x2))) AS p
                   FROM d, bb2)
        SELECT least(floor(p * 10), 9)::INT AS bin,
               count(*) AS n, round(avg(p), 6) AS mean_p,
               round(sum(y) / count(*), 6) AS frac_pos
        FROM scored GROUP BY 1
    """)
def ml_calibration_bins(spark, sf):
    # classifier evaluation: reliability diagram of the 2-step
    # IRLS fit — score every row with the learned β, bin predicted
    # p into 10 fixed buckets, report per-bin volume, mean
    # prediction, and observed positive rate (exact integer
    # ratio). Scoring is one codegen'd map pass; the oracle
    # re-derives β through the same unrolled Newton SQL and bins
    # identically.
    ev = _load(spark, sf, "events").select(
        (F.col("event_type") == "purchase").cast("double")
        .alias("y"),
        (F.col("value") / F.lit(100.0)).alias("x1"),
        (F.hour("ts") / F.lit(24.0)).alias("x2"))
    fit = {r["step"]: r for r in
           logreg_irls(ev, "y", "x1", "x2", n_iter=2).collect()}
    b0, b1, b2 = (fit[2]["b0"], fit[2]["b1"], fit[2]["b2"])
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(
        -(F.lit(b0) + F.lit(b1) * F.col("x1")
          + F.lit(b2) * F.col("x2"))))
    return (ev.select("y", p.alias("p"))
            .groupBy(F.least(F.floor(F.col("p") * 10), F.lit(9))
                     .cast("int").alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("p"), 6).alias("mean_p"),
                 F.round(F.sum("y") / F.count(F.lit(1)), 6)
                 .alias("frac_pos")))


@query(oracle="""
        WITH hashed AS (
          SELECT event_type,
                 (('0x' || substr(md5('hll:' || user_id::VARCHAR),
                                  1, 15))::BIGINT % 64)::INT AS j,
                 ('0x' || substr(md5('hll:' || user_id::VARCHAR),
                                 1, 15))::BIGINT // 64 AS w
          FROM events),
        ranked AS (SELECT event_type, j,
                          CASE WHEN w = 0 THEN 55
                               ELSE (54 - length(bin(w)) + 1)::INT
                          END AS r
                   FROM hashed),
        regs AS (SELECT event_type, j, max(r) AS m_j
                 FROM ranked GROUP BY 1, 2),
        grid AS (SELECT event_type, i::INT AS j
                 FROM (SELECT DISTINCT event_type FROM regs),
                      unnest(generate_series(0, 63)) t(i)),
        full_g AS (SELECT g.event_type, g.j,
                          coalesce(r.m_j, 0) AS m_j
                   FROM grid g LEFT JOIN regs r
                     ON g.event_type = r.event_type AND g.j = r.j),
        agg AS (SELECT event_type,
                       sum(pow(2.0, -m_j)) AS z,
                       sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END)
                         ::BIGINT AS v
                FROM full_g GROUP BY 1),
        exact AS (SELECT event_type,
                         count(DISTINCT user_id) AS n_exact
                  FROM events GROUP BY 1)
        SELECT a.event_type, e.n_exact, a.v,
               round(CASE WHEN (0.709 * 64.0 * 64.0) / a.z <= 2.5 * 64
                           AND a.v > 0
                          THEN 64.0 * ln(64.0 / a.v)
                          ELSE (0.709 * 64.0 * 64.0) / a.z END, 4)
                 AS hll_est
        FROM agg a JOIN exact e USING (event_type)
    """)
def sketch_hll_distinct(spark, sf):
    # the canonical distinct-count sketch, bit-replayable:
    # HyperLogLog with m=64 registers over the portable 60-bit md5
    # (j = h mod 64, w = h div 64 in 54 bits, rank = 54 −
    # bitlen(w) + 1 via length(bin(w)) — INTEGER leading-zero
    # count, no float log2 boundary). Registers are a per-type
    # max aggregate (mergeable state, word-count-shaped); the full
    # 64-register grid is fanned in so empty registers contribute
    # 2^0 and count toward the small-range correction V. Estimate
    # α·m²/Σ2^(−M_j) with linear counting below 2.5m, next to the
    # exact companion.
    ev = _load(spark, sf, "events")
    h = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit("hll"), F.col("user_id").cast("string"))),
        1, 15), 16, 10).cast("bigint")
    hashed = ev.select("event_type", h.alias("h")).select(
        "event_type", (F.col("h") % 64).cast("int").alias("j"),
        # integer div — floor(h/64.0) would round through a double
        # and corrupt hashes above 2^53
        F.expr("h div 64").alias("w"))
    rank = F.when(F.col("w") == 0, F.lit(55)).otherwise(
        54 - F.length(F.bin("w")) + 1).cast("int")
    regs = hashed.select("event_type", "j", rank.alias("r")) \
        .groupBy("event_type", "j").agg(F.max("r").alias("m_j"))
    grid = (regs.select("event_type").distinct()
            .crossJoin(spark.range(64)
                       .select(F.col("id").cast("int").alias("j"))))
    full = grid.join(regs, ["event_type", "j"], "left") \
        .fillna(0, subset=["m_j"])
    agg = full.groupBy("event_type").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0))
        .alias("v"))
    raw = F.lit(0.709 * 64.0 * 64.0) / F.col("z")
    est = F.when((raw <= 2.5 * 64) & (F.col("v") > 0),
                 F.lit(64.0) * F.log(F.lit(64.0)
                                     / F.col("v"))).otherwise(raw)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"))
    return (agg.join(exact, "event_type")
            .select("event_type", "n_exact", "v",
                    F.round(est, 4).alias("hll_est")))


@query(oracle="""
        WITH per AS (
          SELECT user_id, count(*) AS n,
                 sum((event_type = 'purchase')::INT)::BIGINT AS k
          FROM events GROUP BY 1),
        rates AS (SELECT user_id, n, k, k::DOUBLE / n AS p FROM per),
        mom AS (SELECT avg(p) AS m, var_pop(p) AS v FROM rates),
        prior AS (SELECT m, v,
                    CASE WHEN v > 0
                         THEN m * ((m * (1.0 - m) / v) - 1.0) END
                      AS alpha,
                    CASE WHEN v > 0
                         THEN (1.0 - m) * ((m * (1.0 - m) / v) - 1.0)
                    END AS beta
                  FROM mom)
        SELECT user_id, n, k, round(p, 6) AS raw_rate,
               round(CASE WHEN alpha IS NOT NULL
                          THEN (k + alpha) / (n + alpha + beta)
                          ELSE p END, 6) AS eb_rate
        FROM rates, prior
    """)
def stat_eb_shrinkage(spark, sf):
    # empirical-Bayes rate smoothing (beta-binomial, the CTR
    # denoiser): per-user purchase rates shrunk toward the corpus
    # prior fit by method of moments on the observed rates —
    # (k+α)/(n+α+β). One rollup pass + a 2-row broadcast prior;
    # low-volume users move most, exactly the James–Stein story.
    ev = _load(spark, sf, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .alias("k"))
    rates = per.withColumn(
        "p", F.col("k").cast("double") / F.col("n"))
    mom = rates.agg(F.avg("p").alias("m"),
                    F.var_pop("p").alias("v"))
    common = (F.col("m") * (1.0 - F.col("m")) / F.col("v")) - 1.0
    prior = mom.select(
        F.col("m"), F.col("v"),
        F.when(F.col("v") > 0, F.col("m") * common).alias("alpha"),
        F.when(F.col("v") > 0, (1.0 - F.col("m")) * common)
        .alias("beta"))
    shrunk = F.when(
        F.col("alpha").isNotNull(),
        (F.col("k") + F.col("alpha"))
        / (F.col("n") + F.col("alpha") + F.col("beta"))
    ).otherwise(F.col("p"))
    return (rates.crossJoin(F.broadcast(prior))
            .select("user_id", "n", "k",
                    F.round("p", 6).alias("raw_rate"),
                    F.round(shrunk, 6).alias("eb_rate")))


@query(oracle="""
        WITH g AS (SELECT event_type, count(*) AS n_g,
                          sum(value) AS s_g,
                          sum(value * value) AS ss_g
                   FROM events GROUP BY 1),
        tot AS (SELECT count(*) AS k,
                       sum(n_g)::BIGINT AS n, sum(s_g) AS s,
                       sum(ss_g) AS ss,
                       sum(s_g * s_g / n_g) AS sq
                FROM g)
        SELECT k, n,
               round(sq - s * s / n, 4) AS ss_between,
               round(ss - sq, 4) AS ss_within,
               round(((sq - s * s / n) / (k - 1))
                     / ((ss - sq) / (n - k)), 6) AS f_stat
        FROM tot
    """)
def stat_anova_f(spark, sf):
    # one-way ANOVA across event types: F = (SSB/(k−1))/(SSW/(n−k))
    # from ONE partial-agg'd pass of per-group (n, Σx, Σx²) — the
    # textbook decomposition SSW = Σx² − Σ(Σx)²/n_g, SSB from the
    # same moments; nothing but k moment rows crosses the exchange
    ev = _load(spark, sf, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("value").alias("s_g"),
        F.sum(F.col("value") * F.col("value")).alias("ss_g"))
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g"))
        .alias("sq"))
    ssb = F.col("sq") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sq")
    fstat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n")
                                               - F.col("k")))
    return tot.select(
        "k", "n", F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(fstat, 6).alias("f_stat"))


@query(oracle="""
        WITH m AS (SELECT p_brand, count(*) AS n,
                          sum(p_size::DOUBLE) AS sx,
                          sum(p_retailprice::DOUBLE) AS sy,
                          sum(p_size::DOUBLE * p_size::DOUBLE)
                            AS sxx,
                          sum(p_retailprice::DOUBLE
                              * p_retailprice::DOUBLE) AS syy,
                          sum(p_size::DOUBLE * p_retailprice::DOUBLE)
                            AS sxy
                   FROM part GROUP BY 1)
        SELECT p_brand, n,
               round((sxy - sx * sy / n::DOUBLE)
                     / sqrt((sxx - sx * sx / n::DOUBLE)
                            * (syy - sy * sy / n::DOUBLE)), 6)
                 AS pearson_r
        FROM m
    """)
def stat_grouped_pearson(spark, sf):
    # grouped correlation: Pearson r between part size and retail
    # price per brand, from one pass of exact per-group moments
    # (n, Σx, Σy, Σx², Σy², Σxy — integers and DECIMAL-exact sums)
    part = _load(spark, sf, "part")
    x = F.col("p_size").cast("double")
    y = F.col("p_retailprice").cast("double")
    m = part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"))
    nf = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / nf
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / nf
    vy = F.col("syy") - F.col("sy") * F.col("sy") / nf
    return m.select("p_brand", "n",
                    F.round(cov / F.sqrt(vx * vy), 6)
                    .alias("pearson_r"))


@query(oracle="""
        WITH per AS (SELECT user_id, count(*) AS x,
                            count(DISTINCT ts::DATE) AS y
                     FROM events GROUP BY 1),
        vcx AS (SELECT x, count(*) AS c FROM per GROUP BY 1),
        rx AS (SELECT x,
                      coalesce(sum(c) OVER (
                        ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0)::DOUBLE
                      + (c + 1)::DOUBLE / 2 AS r_x
               FROM vcx),
        vcy AS (SELECT y, count(*) AS c FROM per GROUP BY 1),
        ry AS (SELECT y,
                      coalesce(sum(c) OVER (
                        ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0)::DOUBLE
                      + (c + 1)::DOUBLE / 2 AS r_y
               FROM vcy),
        r AS (SELECT p.user_id, rx.r_x, ry.r_y
              FROM per p JOIN rx USING (x) JOIN ry USING (y)),
        m AS (SELECT count(*) AS n, sum(r_x) AS sx, sum(r_y) AS sy,
                     sum(r_x * r_x) AS sxx, sum(r_y * r_y) AS syy,
                     sum(r_x * r_y) AS sxy
              FROM r)
        SELECT n,
               round((sxy - sx * sy / n::DOUBLE)
                     / sqrt((sxx - sx * sx / n::DOUBLE)
                            * (syy - sy * sy / n::DOUBLE)), 6)
                 AS spearman_rho
        FROM m
    """, waive=("tie-aware midranks on distinct-value tables for "
              "both variables"))
def stat_spearman(spark, sf):
    # Spearman rank correlation between per-user event volume and
    # active-day breadth: tie-aware midranks for BOTH variables
    # via the distinct-value form (rows-before + (ties+1)/2 — the
    # corpus never global-sorts), then Pearson on the ranks
    ev = _load(spark, sf, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"),
        F.countDistinct(F.to_date("ts")).alias("y"))

    def midranks(df, col):
        vc = df.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy(col)                 .rowsBetween(Window.unboundedPreceding, -1)
        return vc.select(
            col,
            (F.coalesce(F.sum("c").over(w), F.lit(0))
             .cast("double")
             + (F.col("c") + 1).cast("double") / 2)
            .alias(f"r_{col}"))
    r = per.join(midranks(per, "x"), "x")                .join(midranks(per, "y"), "y")
    m = r.agg(F.count(F.lit(1)).alias("n"),
              F.sum("r_x").alias("sx"), F.sum("r_y").alias("sy"),
              F.sum(F.col("r_x") * F.col("r_x")).alias("sxx"),
              F.sum(F.col("r_y") * F.col("r_y")).alias("syy"),
              F.sum(F.col("r_x") * F.col("r_y")).alias("sxy"))
    nf = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / nf
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / nf
    vy = F.col("syy") - F.col("sy") * F.col("sy") / nf
    return m.select("n", F.round(cov / F.sqrt(vx * vy), 6)
                    .alias("spearman_rho"))


@query(oracle="""
        WITH g AS (SELECT event_type, count(*) AS n, avg(value) AS m,
                          var_samp(value) AS v
                   FROM events
                   WHERE event_type IN ('purchase', 'view')
                   GROUP BY 1),
        a AS (SELECT n AS n1, m AS m1, v AS v1 FROM g
              WHERE event_type = 'purchase'),
        b AS (SELECT n AS n2, m AS m2, v AS v2 FROM g
              WHERE event_type = 'view')
        SELECT n1, n2,
               round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6)
                 AS t_stat,
               round(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
                     / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                        + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4)
                 AS df
        FROM a, b
    """)
def stat_welch_ttest(spark, sf):
    # Welch's unequal-variance t-test (purchase vs view values):
    # t and the Welch–Satterthwaite df from TWO moment rows (n,
    # mean, sample variance per group) — one partial-agg'd pass,
    # closed form after
    ev = _load(spark, sf, "events").filter(
        F.col("event_type").isin("purchase", "view"))
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"))
    a = g.filter(F.col("event_type") == "purchase")             .select(F.col("n").alias("n1"), F.col("m").alias("m1"),
                F.col("v").alias("v1"))
    b = g.filter(F.col("event_type") == "view")             .select(F.col("n").alias("n2"), F.col("m").alias("m2"),
                F.col("v").alias("v2"))
    j = a.crossJoin(b)
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    t = (F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)
    df_ws = ((se1 + se2) * (se1 + se2))             / (se1 * se1 / (F.col("n1") - 1)
           + se2 * se2 / (F.col("n2") - 1))
    return j.select("n1", "n2", F.round(t, 6).alias("t_stat"),
                    F.round(df_ws, 4).alias("df"))


@query(oracle="""
        WITH g AS (SELECT event_type, count(*) AS n,
                          sum((value > 500)::INT)::BIGINT AS k
                   FROM events GROUP BY 1)
        SELECT event_type, n, k,
               round(k::DOUBLE / n, 6) AS rate,
               round(((k::DOUBLE / n + 3.8416 / (2 * n))
                      / (1.0 + 3.8416 / n))
                     - (1.96 * sqrt((k::DOUBLE / n)
                                    * (1.0 - k::DOUBLE / n) / n
                                    + 3.8416 / (4 * n * n))
                        / (1.0 + 3.8416 / n)), 6) AS ci_lo,
               round(((k::DOUBLE / n + 3.8416 / (2 * n))
                      / (1.0 + 3.8416 / n))
                     + (1.96 * sqrt((k::DOUBLE / n)
                                    * (1.0 - k::DOUBLE / n) / n
                                    + 3.8416 / (4 * n * n))
                        / (1.0 + 3.8416 / n)), 6) AS ci_hi
        FROM g
    """)
def stat_wilson_ci(spark, sf):
    # Wilson score interval for per-type conversion rates — the
    # binomial CI that behaves at small n and extreme p (unlike
    # the Wald interval): closed form from (k, n) integer counts,
    # z = 1.96
    ev = _load(spark, sf, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("value") > 500).cast("long")).alias("k"))
    z2 = 1.96 * 1.96
    p = F.col("k").cast("double") / F.col("n")
    denom = 1.0 + z2 / F.col("n")
    center = (p + z2 / (2 * F.col("n"))) / denom
    half = (F.lit(1.96) * F.sqrt(
        p * (1.0 - p) / F.col("n")
        + z2 / (4 * F.col("n") * F.col("n"))) / denom)
    return g.select("event_type", "n", "k",
                    F.round(p, 6).alias("rate"),
                    F.round(center - half, 6).alias("ci_lo"),
                    F.round(center + half, 6).alias("ci_hi"))


@query(oracle="""
        WITH per AS (SELECT s_nationkey, s_suppkey,
                            sum(s_acctbal::DECIMAL(18,2)) AS bal
                     FROM supplier GROUP BY 1, 2),
        tot AS (SELECT s_nationkey, sum(bal) AS tot,
                       count(*) AS n_suppliers
                FROM per GROUP BY 1)
        SELECT per.s_nationkey, tot.n_suppliers,
               round(sum((per.bal::DOUBLE / tot.tot::DOUBLE)
                         * (per.bal::DOUBLE / tot.tot::DOUBLE)), 6)
                 AS hhi
        FROM per JOIN tot USING (s_nationkey)
        GROUP BY 1, 2
    """)
def stat_herfindahl(spark, sf):
    # market-concentration HHI per nation: Σ (supplier share)² of
    # account balance mass — two word-count-shaped rollups, exact
    # DECIMAL shares (complements the Gini query: HHI weights the
    # head, Gini the whole curve)
    sup = _load(spark, sf, "supplier")
    per = sup.groupBy("s_nationkey", "s_suppkey").agg(
        F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
        .alias("bal"))
    tot = per.groupBy("s_nationkey").agg(
        F.sum("bal").alias("tot"),
        F.count(F.lit(1)).alias("n_suppliers"))
    shares = per.join(tot, "s_nationkey").select(
        "s_nationkey", "n_suppliers",
        (F.col("bal").cast("double")
         / F.col("tot").cast("double")).alias("sh"))
    return (shares.groupBy("s_nationkey", "n_suppliers")
            .agg(F.round(F.sum(F.col("sh") * F.col("sh")), 6)
                 .alias("hhi")))


@query(oracle="""
        WITH f AS (SELECT event_type, value FROM events
                   WHERE event_type IN ('purchase', 'view')),
        rn AS (SELECT event_type, value,
                      row_number() OVER (ORDER BY value) AS r
               FROM f),
        mr AS (SELECT event_type, value,
                      (min(r) OVER (PARTITION BY value)
                       + max(r) OVER (PARTITION BY value))::DOUBLE / 2
                        AS midrank
               FROM rn),
        tg AS (SELECT
                 sum(CASE WHEN event_type = 'purchase'
                          THEN midrank END) AS r1,
                 sum((event_type = 'purchase')::INT)::BIGINT AS n1,
                 sum((event_type = 'view')::INT)::BIGINT AS n2
               FROM mr)
        SELECT n1, n2,
               round(r1 - n1 * (n1 + 1) / 2, 4) AS u1,
               round((r1 - n1 * (n1 + 1) / 2 - n1 * n2 / 2)
                     / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0), 6) AS z
        FROM tg
    """, waive=("midranks on the DISTINCT-VALUE table (value "
              "vocabulary, not rows)"))
def stat_mannwhitney_u(spark, sf):
    # Mann–Whitney U (purchase vs view values): midrank per tied
    # value = rows-before + (ties+1)/2, computed on the DISTINCT-
    # VALUE table — one partial-agg'd rollup shuffles the corpus,
    # the only global sort sees |distinct values| rows (the oracle
    # ranks every row with (min+max)/2 windows instead — same
    # midranks exactly, a cross-formulation check). U and the
    # normal-approximation z.
    ev = _load(spark, sf, "events").filter(
        F.col("event_type").isin("purchase", "view"))
    vc = ev.groupBy("value").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .alias("n_p"))
    wv = Window.orderBy("value") \
        .rowsBetween(Window.unboundedPreceding, -1)
    mid = (F.coalesce(F.sum("n_all").over(wv), F.lit(0))
           .cast("double")
           + (F.col("n_all") + 1).cast("double") / 2)
    tg = vc.select("n_all", "n_p", mid.alias("midrank")) \
        .groupBy().agg(
            F.sum(F.col("n_p") * F.col("midrank")).alias("r1"),
            F.sum("n_p").alias("n1"),
            F.sum(F.col("n_all") - F.col("n_p")).alias("n2"))
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2
    mu = F.col("n1") * F.col("n2") / 2
    sigma = F.sqrt(F.col("n1") * F.col("n2")
                   * (F.col("n1") + F.col("n2") + 1) / 12.0)
    return tg.select(
        "n1", "n2", F.round(u1, 4).alias("u1"),
        F.round((u1 - mu) / sigma, 6).alias("z"))
