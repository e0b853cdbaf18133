"""ML feature-engineering operators (training-table preparation).

Target encoding is the classic high-cardinality-categorical feature:
replace a category with the mean of the target over that category.
Done naively it leaks the row's own label into its feature; the
standard fix (sklearn's TargetEncoder, CatBoost's ordered variant) is
K-fold leave-one-out: a row in fold f gets the mean computed from
every OTHER fold. At 10^12 rows the only viable form is the
fold-marginal decomposition below — never a per-row recomputation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sketches import _h60


def target_encode_loo(df: DataFrame, id_col: str, cat_col: str,
                      target_col: str, n_folds: int = 5,
                      prior_weight: float = 10.0) -> DataFrame:
    """K-fold leave-one-fold-out target encoding →
    ``(cat, fold, n_fold, encoding)`` — the (category × fold)
    encoding table a training job broadcast-joins back onto the
    facts.

    enc(c, f) = (S_c − s_{c,f} + w·μ) / (N_c − n_{c,f} + w)

    where S/N are the category's full target sum/count, s/n the
    fold's own contribution (subtracting it = leave-one-fold-out, so
    no row's label reaches its own feature), and w·μ a global-mean
    smoothing prior that keeps rare categories from memorizing noise
    (μ excludes nothing — it is one scalar, standard practice).

    Determinism/scale: the fold is ``h60(id) mod K`` — reproducible
    across reruns and partitionings, no RNG state; sums accumulate as
    DECIMAL(18,6) (exact, order-free) so the SQL replay is
    bit-identical; everything is ONE partial-agg'd pass over the
    facts into a (|categories|·K)-row table plus window math on that
    dim-sized table — the fact table is never touched again.
    Categories where a fold holds ALL rows fall back to the pure
    prior (the n_oof = 0 edge: encoding = μ).
    """
    t = F.col(target_col).cast("decimal(18,6)")
    base = df.select(
        F.col(cat_col).alias("cat"),
        F.pmod(_h60(F.col(id_col)), F.lit(n_folds)).alias("fold"),
        t.alias("t")).filter(F.col("t").isNotNull())
    per_fold = (base.groupBy("cat", "fold")
                .agg(F.count(F.lit(1)).alias("n_cf"),
                     F.sum("t").alias("s_cf")))
    from pyspark.sql import Window
    wc = Window.partitionBy("cat")
    wall = Window.partitionBy()
    g = (per_fold
         .withColumn("n_c", F.sum("n_cf").over(wc))
         .withColumn("s_c", F.sum("s_cf").over(wc))
         .withColumn("mu", (F.sum("s_cf").over(wall)
                            / F.sum("n_cf").over(wall))
                     .cast("double")))
    n_oof = F.col("n_c") - F.col("n_cf")
    s_oof = (F.col("s_c") - F.col("s_cf")).cast("double")
    enc = (s_oof + F.lit(prior_weight) * F.col("mu")) \
        / (n_oof + F.lit(prior_weight))
    return g.select(
        F.col("cat").alias(cat_col), "fold",
        F.col("n_cf").cast("long").alias("n_fold"),
        F.round(enc, 6).alias("encoding"))


def feature_hash(tokens: DataFrame, id_col: str, token_col: str,
                 dim: int = 1024) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): fold an unbounded
    feature vocabulary into a FIXED ``dim``-bucket space with a
    signed hash → sparse ``(id, bucket, value)`` rows, value =
    Σ sign(token) over the row's occurrences of tokens in that
    bucket.

    bucket = h60('b:' t) mod dim; sign = ±1 from an independent hash
    bit. The sign makes collisions cancel in expectation (E[x·x'] is
    unbiased — the property that lets linear models train on hashed
    features), and hashing needs NO vocabulary pass, no fitted state,
    no dictionary broadcast: the one groupBy on (id, bucket) is the
    entire computation, and adding a feature never changes another's
    column. Deterministic md5 lanes ⇒ the SQL replay and any re-run
    are byte-identical.
    """
    t = tokens.select(F.col(id_col).alias("id"),
                      F.col(token_col).alias("tok")) \
        .filter(F.col("tok").isNotNull())
    bucket = F.pmod(_h60(F.concat(F.lit("b:"), F.col("tok"))),
                    F.lit(dim))
    sign = F.when(
        F.pmod(_h60(F.concat(F.lit("s:"), F.col("tok"))),
               F.lit(2)) == 1,
        F.lit(1)).otherwise(F.lit(-1))
    return (t.select("id", bucket.alias("bucket"), sign.alias("s"))
            .groupBy("id", "bucket")
            .agg(F.sum("s").cast("long").alias("value"))
            .filter(F.col("value") != 0)
            .select(F.col("id").alias(id_col), "bucket", "value"))
