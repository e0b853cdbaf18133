"""Text analytics for large-scale training-data pipelines.

All hot-path expressions are pure Catalyst (``pyspark.sql.functions``
column expressions — JVM-side, whole-stage-codegen'd, no Python), so
they pipeline into the scan with predicate pushdown intact and scale
linearly with input splits: a 100 TB corpus is just more map tasks.

Components (each has an ANSI-SQL-expressible definition so DuckDB can
act as a correctness oracle):

- ``norm_text`` / ``tokens`` / ``token_count`` — normalization and a
  whitespace+punctuation tokenizer (the BPE-ish regex splitter).
- ``char_stats`` — length / punctuation / digit / uppercase /
  whitespace ratios for quality filtering.
- ``quality_score`` — deterministic heuristic combining the ratios
  (the usual Gopher/C4-style length+symbol+stopword gates).
- ``lang_id`` — n-gram/stopword-hit heuristic language ID.
- ``fingerprint_md5`` — document fingerprint of normalized content.
- ``minhash_sketch_col`` — bottom-k sketch of word-shingle hashes
  (rolling document fingerprint; feeds dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small per-language stopword lists for the heuristic language ID.
# Deliberately tiny and hard-coded: the point is the *operator shape*
# (explode → broadcast join → argmax), not linguistic accuracy.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "de", "et", "un", "une", "dans", "pour", "que", "sur"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "für", "auf"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em", "um", "para"],
}

# English stopwords reused for the quality-score stopword ratio.
EN_STOPWORDS = LANG_STOPWORDS["en"]


def norm_text(col) -> Column:
    """Lowercase, collapse every non-alphanumeric run to one space,
    trim. SQL parity: trim(regexp_replace(lower(x),'[^a-z0-9]+',' ','g'))."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def tokens(col) -> Column:
    """Array of normalized tokens (empty strings dropped)."""
    return F.filter(F.split(norm_text(col), " "), lambda t: t != "")


def token_count(col) -> Column:
    return F.size(tokens(col))


def _count_matching(col, char_class: str) -> Column:
    """# characters matching a regex character class, JVM-side."""
    return F.length(col) - F.length(F.regexp_replace(col, char_class, ""))


def char_stats(col) -> dict[str, Column]:
    """Ratio columns for quality gates. Denominator guarded to 1."""
    n = F.greatest(F.length(col), F.lit(1)).cast("double")
    return {
        "n_chars": F.length(col),
        "n_tokens": token_count(col),
        "punct_ratio": _count_matching(col, r"[^\w\s]") / n,
        "digit_ratio": _count_matching(col, r"[0-9]") / n,
        "upper_ratio": _count_matching(col, r"[A-Z]") / n,
        "space_ratio": _count_matching(col, r"\s") / n,
    }


def stopword_ratio(col) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    toks = tokens(col)
    hits = F.size(F.filter(
        toks, lambda t: t.isin(*EN_STOPWORDS)))
    return hits / F.greatest(F.size(toks), F.lit(1)).cast("double")


def mean_token_len(col) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(col) -> Column:
    """Deterministic 0..1 quality heuristic (C4/Gopher-style gates,
    expressed as a smooth score instead of a boolean filter):

      0.25·[20 ≤ n_chars ≤ 10000] + 0.25·[5 ≤ n_tokens ≤ 2000]
    + 0.25·[punct_ratio ≤ 0.3]    + 0.25·[2 ≤ mean_token_len ≤ 12]
    """
    st = char_stats(col)
    ind = lambda c: F.when(c, 1.0).otherwise(0.0)  # noqa: E731
    mtl = mean_token_len(col)
    return (
        0.25 * ind((st["n_chars"] >= 20) & (st["n_chars"] <= 10000))
        + 0.25 * ind((st["n_tokens"] >= 5) & (st["n_tokens"] <= 2000))
        + 0.25 * ind(st["punct_ratio"] <= 0.3)
        + 0.25 * ind((mtl >= 2.0) & (mtl <= 12.0))
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-hit language ID as a ZERO-SHUFFLE map: per-language
    ``regexp_count`` with word boundaries over the normalized text
    (the normalized alphabet is ``[a-z0-9 ]``, so ``\\b`` matches
    exactly full-token hits — identical counts to the explode →
    broadcast-join → groupBy formulation this replaces), then an
    argmax via ``greatest`` over (hits, -lang_rank) structs with the
    same deterministic tie-break (hits desc, lang asc); no hits →
    'und'.

    The whole operator is ONE whole-stage-codegen projection — no
    explode blow-up, no join, no aggregation exchange, no window. At
    100 TB it is pure map tasks pipelined into the scan; the prior
    plan shuffled ~|tokens| rows twice (count + window) and joined
    the result back. The relational formulation is preserved in the
    driver oracle (``registry/text.py`` ``text_lang_id`` SQL).
    """
    best = lang_best(F.col("text"))
    return df.select(
        F.col("doc_id"),
        F.when(best["h"] > 0, best["lang"]).otherwise("und").alias("lang_pred"),
        best["h"].alias("lang_hits"))


def lang_best(col) -> Column:
    """The lang-ID argmax as a reusable EXPRESSION — struct
    (h=hits, ni, lang); callers derive ``lang_pred`` as
    ``when(best['h'] > 0, best['lang']).otherwise('und')``. Pure
    codegen, so any operator can fold language detection into an
    existing projection instead of joining ``lang_id``'s output
    (one scan instead of two + a join)."""
    norm = norm_text(col)
    cands = []
    for i, lang in enumerate(sorted(LANG_STOPWORDS)):
        pat = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
        hits = F.coalesce(F.regexp_count(norm, F.lit(pat)), F.lit(0))
        # greatest() on structs: hits first, then -rank ⇒ lang asc
        cands.append(F.struct(hits.cast("long").alias("h"),
                              F.lit(-i).alias("ni"),
                              F.lit(lang).alias("lang")))
    return F.greatest(*cands)


# ----------------------------------------------------------- PII scan
# RE2-safe patterns (no backrefs/lookaround) verified to match
# IDENTICALLY under Spark's Java regex and DuckDB's RE2, so the DuckDB
# oracle replays counts and redactions byte-for-byte. Order matters in
# redact_pii: URL first (emails inside query strings would otherwise
# split a URL), then EMAIL, PHONE, IP.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "phone": r"\(?[0-9]{3}\)?[ .\-][0-9]{3}[.\-][0-9]{4}",
    "url": r"https?://[A-Za-z0-9.\-]+(/[^ ]*)?",
    "ip": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}
_PII_REDACT_ORDER = ("url", "email", "phone", "ip")


def pii_counts(col) -> dict[str, Column]:
    """Per-kind PII match counts — one codegen ``regexp_count`` per
    pattern, pure map work (a 100 TB corpus is just more splits)."""
    return {kind: F.coalesce(F.regexp_count(col, F.lit(pat)), F.lit(0))
            for kind, pat in PII_PATTERNS.items()}


def redact_pii(col) -> Column:
    """Replace every PII match with ``<KIND>`` placeholders; chained
    ``regexp_replace`` in ``_PII_REDACT_ORDER`` (URL before EMAIL so
    addresses embedded in URLs redact as part of the URL)."""
    out = col
    for kind in _PII_REDACT_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[kind],
                               f"<{kind.upper()}>")
    return out


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    tf = in-doc term count, idf = ln((N+1)/(df+1)) + 1 (smoothed,
    scikit-learn convention), ranked by (tf·idf desc, term asc) for a
    deterministic cut. Plan: explode → per-(doc,term) count (partial
    agg, one shuffle) → document frequency per term (second agg) →
    broadcast-size idf join → row_number window. At corpus scale the
    heavy exchanges are the two hash aggregations on (doc, term) /
    (term); the window partitions by doc — no global sort.
    """
    from pyspark.sql import Window

    n_docs = df.count()  # one metadata-cheap job; the scalar rides
    #                      into the plan as a literal (no crossJoin)
    terms = df.select(F.col("doc_id").alias("id"),
                      F.explode(tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf",
        F.col("tf") * (F.log((F.lit(float(n_docs + 1)))
                             / (F.col("df_t") + F.lit(1.0))) + F.lit(1.0)))
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(F.col("id").alias("doc_id"), "term", "tf",
                    F.col("df_t"), F.round("tfidf", 6).alias("tfidf"),
                    "rnk"))


def fingerprint_md5(col) -> Column:
    """Content fingerprint: md5 of the normalized text. Identical
    normalized content ⇒ identical fingerprint (exact-dedup key)."""
    return F.md5(norm_text(col))


def shingles(col, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (array of
    space-joined n-grams); the unit of n-gram Jaccard / MinHash."""
    toks = tokens(col)
    # n-grams as a fold of zip_with over shifted slices — element_at
    # inside a transform lambda would re-evaluate the tokenizer per
    # index (no CSE inside higher-order-function lambdas): O(tokens²)
    n_grams_len = F.size(toks) - n + 1
    acc = F.slice(toks, 1, n_grams_len)
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(toks, 1 + j, n_grams_len),
                         lambda a, b: F.concat_ws(" ", a, b))
    grams = F.when(F.size(toks) >= n, acc).otherwise(
        # short docs: the whole doc is one shingle (keeps them
        # comparable instead of silently dropped)
        F.when(F.size(toks) > 0, F.array(F.concat_ws(" ", toks)))
        .otherwise(F.array()))
    return F.array_distinct(grams)


def shingle_hash(shingle_col) -> Column:
    """Portable 60-bit shingle hash: first 15 hex chars of md5 → bigint.
    (md5 exists in both Spark and DuckDB, so oracles can reproduce it;
    xxhash64 would be Spark-only.)"""
    return F.conv(F.substring(F.md5(shingle_col), 1, 15), 16, 10).cast("bigint")


def minhash_sketch_col(col, k: int = 16, n: int = 3) -> Column:
    """Bottom-k sketch of the shingle-hash set — a compact document
    fingerprint whose overlap estimates Jaccard similarity. Pure
    Catalyst: transform → array_sort → slice."""
    hashes = F.transform(shingles(col, n), lambda s: shingle_hash(s))
    return F.slice(F.array_sort(hashes), 1, k)


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 20) -> DataFrame:
    """BM25 ranked retrieval (Lucene's idf form) — the lexical
    complement to the embedding searches: score(d) = Σ_t idf(t) ·
    tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)), idf = ln((N-df+0.5)/
    (df+0.5)+1). Deterministic and SQL-replayable: every statistic is
    a count, the per-(doc,term) math is pure arithmetic.

    Shape: one token explode filtered to the query's terms BEFORE any
    aggregation (the posting list never materializes for non-query
    terms — at 100 TB the filter rides the scan), tf/df/doc-length
    partial-aggregated, corpus totals broadcast, one top-k window.
    """
    terms = [t.lower() for t in query_terms]
    toks = df.select(F.col("doc_id").alias("id"),
                     tokens(F.col("text")).alias("tk"))
    dl = toks.select("id", F.size("tk").alias("dl"))
    totals = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.avg("dl").alias("avgdl"))
    hits = toks.select("id", F.explode("tk").alias("w")) \
        .filter(F.col("w").isin(terms))
    tf = hits.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (tf.join(dfreq, "w").join(dl, "id")
              .crossJoin(F.broadcast(totals)))
    idf = F.log((F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5) + 1.0)
    # k1 = 1.2, b = 0.75 (Lucene's defaults)
    part = idf * (F.col("tf") * (1.2 + 1)) \
        / (F.col("tf")
           + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    per_doc = scored.groupBy("id").agg(
        F.round(F.sum(part), 6).alias("score"))
    from pyspark.sql import Window

    # top-k via orderBy+limit (per-partition heaps) BEFORE the rank
    # window — a global window over every matching doc would single-
    # partition the scored corpus (the skew_profile lesson)
    head = per_doc.orderBy(F.desc("score"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    return (head.withColumn("rank", F.row_number().over(w))
            .select(F.col("id").alias("doc_id"), "score", "rank"))


def char_entropy(df: DataFrame) -> DataFrame:
    """Per-document character-level Shannon entropy →
    ``(doc_id, n_chars, entropy)`` in bits; NULL/empty text rows are
    dropped (the engine-wide null-text contract).

    H = −Σ_c (n_c/n)·log2(n_c/n) over the document's character
    frequencies — the cheap degenerate-text signal (mojibake,
    repeated-character padding, base64 blobs score far from prose's
    ~4.1 bits) used alongside the Gopher-style ratio rules in
    ``quality_score``.

    Plan: explode to (doc, char) rows, two partial-agg'd groupBys —
    all JVM codegen, no UDF; the per-doc sum spans ≤ |alphabet|
    terms so the float drift is orders under the round-6 contract.
    """
    chars = (df.select("doc_id", F.explode(F.split("text", ""))
                       .alias("ch"))
             .filter(F.col("ch") != ""))
    freq = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("n_c"))
    return (freq.groupBy("doc_id")
            .agg(F.sum("n_c").alias("n_chars"),
                 (-F.sum(F.col("n_c")
                         * F.log2(F.col("n_c").cast("double"))))
                 .alias("__s"))
            .select("doc_id", "n_chars",
                    F.round(
                        F.col("__s") / F.col("n_chars")
                        + F.log2(F.col("n_chars").cast("double")), 6)
                    .alias("entropy")))


def rake_keyphrases(df: DataFrame, max_phrase_len: int = 4,
                    top: int = 25) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) →
    the ``top`` phrases as ``(phrase, n_occurrences, score, rank)``.

    Candidate phrases are maximal stopword-free token runs (the
    gaps-and-islands window trick — island = pos − row_number, pure
    codegen); each word scores deg(w)/freq(w) where deg counts
    phrase-length-weighted appearances (a word living in long phrases
    is a content word) and a phrase scores the sum of its member
    words. The corpus-level keyphrase surfacer that needs no model —
    the fashion-attribute miner's unsupervised cousin.

    Scale shape: one doc-keyed window for islands, two
    partial-agg'd groupBys (phrase instances, word stats — the word
    table is vocabulary-sized and broadcasts back), one final ranked
    aggregation over distinct phrases. Ties rank lexicographically.
    """
    from pyspark.sql import Window

    toks = (df.filter(F.col("text").isNotNull())
            .select(F.col("doc_id").alias("doc"),
                    F.posexplode(F.split("text", " "))
                    .alias("pos", "tok"))
            .filter(F.col("tok") != ""))
    ns = toks.filter(~F.col("tok").isin(*EN_STOPWORDS))
    w = Window.partitionBy("doc").orderBy("pos")
    isl = ns.withColumn("island", F.col("pos") - F.row_number().over(w))
    inst = (isl.groupBy("doc", "island")
            .agg(F.concat_ws(
                " ", F.array_sort(F.collect_list(
                    F.struct("pos", F.col("tok").alias("t"))))
                .getField("t")).alias("phrase"),
                F.count(F.lit(1)).alias("plen"))
            .filter(F.col("plen") <= max_phrase_len))
    members = isl.join(inst, ["doc", "island"]) \
        .select("tok", "plen", "doc", "island")
    wstats = (members.groupBy("tok")
              .agg(F.count(F.lit(1)).alias("freq"),
                   F.sum("plen").alias("deg")))
    wscore = wstats.select(
        "tok", (F.col("deg").cast("double") / F.col("freq"))
        .alias("wscore"))
    pscores = (members.join(F.broadcast(wscore), "tok")
               .groupBy("doc", "island")
               .agg(F.sum("wscore").alias("pscore")))
    # min over instances: identical phrases share one global score by
    # construction, but per-instance float summation order can differ
    # in the last ulp — min is deterministic, round(6) collapses it
    ranked = (inst.join(pscores, ["doc", "island"])
              .groupBy("phrase")
              .agg(F.count(F.lit(1)).alias("n_occurrences"),
                   F.round(F.min("pscore"), 6).alias("score")))
    # top-N via orderBy+limit (per-partition heaps), THEN the rank
    # window over ≤ top rows — a global window over the full distinct-
    # phrase table would single-partition a vocabulary²-sized input
    head = ranked.orderBy(F.desc("score"), F.asc("phrase")).limit(top)
    worder = Window.partitionBy().orderBy(
        F.desc("score"), F.asc("phrase"))
    return (head.withColumn("rank", F.row_number().over(worder))
            .select("phrase", "n_occurrences", "score", "rank"))


def chunk_documents(df: DataFrame, chunk_tokens: int = 64,
                    overlap_tokens: int = 16) -> DataFrame:
    """RAG-ingestion chunking: split each document into ~``chunk_
    tokens``-token windows overlapping by ``overlap_tokens``,
    re-assembled as text at whitespace boundaries →
    ``(id, chunk_idx, n_tokens, chunk_text)``.

    Same plan shape as the audio chunk plan: token array once,
    ``sequence`` of window starts, ``posexplode``, and each chunk's
    text via ``slice`` + ``array_join`` — pure codegen array
    expressions, ZERO shuffles, no UDF; a 10^12-doc corpus chunks at
    scan speed. Overlap keeps sentences that straddle a boundary
    retrievable from at least one chunk (the standard RAG trade:
    ~overlap/chunk extra storage for recall at the seams). Documents
    at or under one window yield exactly one chunk; null/empty text
    yields none.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    step = chunk_tokens - overlap_tokens
    toks = tokens(F.col("text"))
    n = F.size(toks)
    out = (df.select(F.col("doc_id").alias("id"), toks.alias("__t"),
                     n.alias("__n"))
           .filter(F.col("__n") > 0)
           .select("id", "__t", "__n",
                   F.posexplode(F.expr(
                       f"sequence(0, greatest(cast((size(__t) - 1) "
                       f"as int) div {step}, 0))"))
                   .alias("chunk_idx", "__c"))
           # drop windows that start at/after the end AND add nothing:
           # start < n always holds for idx = (n-1) div step
           .select("id", "chunk_idx",
                   F.slice(F.col("__t"),
                           F.col("chunk_idx") * step + 1,
                           chunk_tokens).alias("__chunk")))
    # a trailing window fully CONTAINED in the previous one (pure
    # overlap, no new tokens) is redundant: keep idx 0 and windows
    # introducing at least one new token
    out = out.filter(
        (F.col("chunk_idx") == 0)
        | (F.size("__chunk") > F.lit(overlap_tokens)))
    return out.select(
        "id", "chunk_idx",
        F.size("__chunk").alias("n_tokens"),
        F.array_join("__chunk", " ").alias("chunk_text"))
