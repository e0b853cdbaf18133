"""Declarative document-quality gate — the Dolma/DataTrove "mixer".

Real pretraining pipelines don't run quality signals ad hoc; they run
a fixed RULE SET over every document and keep an auditable verdict
(which rule rejected what) so corpus composition is reproducible and
debuggable. This operator composes the repo's existing signals into
that shape:

- token count, language ID, PII counts — folded into ONE
  whole-stage-codegen projection over the scan (``lang_best`` is an
  expression, not a join; at 100 TB these rules cost a scan, period)
- bigram repetition (Gopher) — the one aggregate signal, joined in
  from the shared Arrow posting kernel (``ngram_repetition_stats``)

The verdict is the FIRST failing rule in a fixed order
(too_short → too_long → repetitive → lang → pii → pass), so a doc has
exactly one reject reason and downstream counts are additive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as tx
from .dedup import ngram_repetition_stats


def quality_gate(df: DataFrame,
                 min_tokens: int = 20, max_tokens: int = 100_000,
                 max_rep_frac: float = 0.2,
                 allowed_langs: tuple[str, ...] = ("en",),
                 max_pii: int = 0) -> DataFrame:
    """→ (id, n_tokens, rep_frac, lang_pred, pii_total, verdict).
    NULL text gates as too_short (0 tokens), matching the filter-first
    convention elsewhere."""
    best = tx.lang_best(F.col("text"))
    pii = tx.pii_counts(F.col("text"))
    pii_total = sum(list(pii.values())[1:], list(pii.values())[0])
    base = df.select(
        F.col("doc_id").alias("id"),
        # NULL text ⇒ 0 tokens / 0 PII, not NULL (a NULL comparison
        # would skip every WHEN branch and mislabel the doc 'pass')
        F.coalesce(tx.token_count(F.col("text")),
                   F.lit(0)).alias("n_tokens"),
        F.when(best["h"] > 0, best["lang"]).otherwise("und")
        .alias("lang_pred"),
        F.coalesce(pii_total.cast("long"), F.lit(0)).alias("pii_total"))
    rep = ngram_repetition_stats(df) \
        .select("id", "rep_frac")
    out = base.join(rep, "id", "left") \
        .withColumn("rep_frac", F.coalesce(F.col("rep_frac"), F.lit(0.0)))
    verdict = (
        F.when(F.col("n_tokens") < min_tokens, "too_short")
        .when(F.col("n_tokens") > max_tokens, "too_long")
        .when(F.col("rep_frac") > max_rep_frac, "repetitive")
        .when(~F.col("lang_pred").isin(*allowed_langs), "lang")
        .when(F.col("pii_total") > max_pii, "pii")
        .otherwise("pass"))
    return out.withColumn("verdict", verdict)


def bigram_lm_score(docs: DataFrame, model_docs: DataFrame) -> DataFrame:
    """Per-document mean bigram log-likelihood under a *held-out*
    bigram language model with stupid backoff — the CCNet/KenLM
    quality-filter shape (score every doc with an LM trained on a
    reference corpus; high perplexity ⇒ low quality). The repo's
    unigram score (``text_lm_score`` query) is the degenerate form;
    this one actually exercises OOV handling because ``model_docs``
    is a subset (e.g. the deterministic ``hash_split`` train split),
    so scored docs contain unseen bigrams.

    score(w1,w2) = ln(c(w1,w2) / c(w1))              if bigram seen
                 = ln(0.4 · (c(w2)+1) / (N+V))   otherwise
    (stupid backoff, Brants et al. 2007 — no normalization, which is
    what makes it embarrassingly distributable: counts are pure
    partial-agg sums, no per-context normalizer join.)

    Scale shape: bigram model counts are one partial-agg'd groupBy on
    (w1, w2); scoring is an equi-join of doc bigrams against model
    bigrams on that key (shuffle bounded by corpus bigram volume, head
    bigrams absorbed by partial aggregation) plus two unigram joins
    (vocab-sized — broadcastable). All-token arithmetic is exact
    integer ratios inside ``ln`` — SQL-replayable bit-for-bit.

    Output: (doc_id, n_bigrams, mean_logp) for docs with ≥2 tokens.
    """
    def doc_bigrams(df: DataFrame) -> DataFrame:
        tk = tx.tokens(F.col("text"))
        return (df.filter(F.col("text").isNotNull())
                .select(F.col("doc_id"), tk.alias("tk"))
                .filter(F.size("tk") >= 2)
                .select(
                    "doc_id",
                    F.explode(F.arrays_zip(
                        F.expr("slice(tk, 1, size(tk) - 1)").alias("w1"),
                        F.expr("slice(tk, 2, size(tk) - 1)").alias("w2")))
                    .alias("b"))
                .select("doc_id", F.col("b.w1").alias("w1"),
                        F.col("b.w2").alias("w2")))

    model_tok = model_docs.filter(F.col("text").isNotNull()).select(
        F.explode(tx.tokens(F.col("text"))).alias("w"))
    mu = model_tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    mb = doc_bigrams(model_docs).groupBy("w1", "w2") \
        .agg(F.count(F.lit(1)).alias("c_ab"))
    tot = mu.agg(F.sum("c_w").alias("n_tok"),
                 F.count(F.lit(1)).alias("vocab"))

    db = doc_bigrams(docs)
    j = (db.join(mb, ["w1", "w2"], "left")
         .join(mu.select(F.col("w").alias("w1"),
                         F.col("c_w").alias("c_w1")), "w1", "left")
         .join(mu.select(F.col("w").alias("w2"),
                         F.col("c_w").alias("c_w2")), "w2", "left")
         .crossJoin(F.broadcast(tot)))
    logp = F.when(
        F.col("c_ab").isNotNull(),
        F.log(F.col("c_ab") / F.col("c_w1"))
    ).otherwise(
        F.log(F.lit(0.4)
              * (F.coalesce(F.col("c_w2"), F.lit(0)) + 1)
              / (F.col("n_tok") + F.col("vocab"))))
    return (j.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.sum(logp) / F.count(F.lit(1)), 6)
                 .alias("mean_logp")))
