"""Text and training-data queries: token statistics, quality and language
filters, tokenizers, retrieval scoring, mixing and selection."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.functions import text as tx, text as txf
from fashion_knowledge_graph_spark.functions.text import (
    _PII_REDACT_ORDER, bm25_topk, char_entropy, chunk_documents, PII_PATTERNS,
    rake_keyphrases, token_count, tokens,
)
from fashion_knowledge_graph_spark.operators import (
    dedup as dd, similarity as sim,
)
from fashion_knowledge_graph_spark.operators.packing import pack_greedy
from fashion_knowledge_graph_spark.operators.quality import (
    bigram_lm_score, quality_gate,
)
from fashion_knowledge_graph_spark.operators.rrf import add_rank, rrf_fuse
from fashion_knowledge_graph_spark.operators.sampling import (
    domain_sample, hash_split, rate_threshold, temperature_weights,
    weighted_sample_k,
)
from fashion_knowledge_graph_spark.operators.selection import (
    dsir_log_weights, greedy_max_coverage,
)
from fashion_knowledge_graph_spark.operators.tokenizer import (
    apply_merges, char_pair_counts, learn_bpe, word_freqs,
)
from fashion_knowledge_graph_spark.registry import query
from fashion_knowledge_graph_spark.registry.common import (
    _docs_split, _load, _norm_sql, _toks_sql, toks,
)


def _bpe_unrolled_sql(n_merges: int) -> str:
    """Unrolled-SQL replay of ``operators/tokenizer.py::learn_bpe``:
    per merge step k, a pair-count + deterministic top-1 pick, then a
    per-word recursive CTE that splices out the LEFTMOST (a,b)
    occurrence until none remains. Repeated-leftmost ≡ one
    left-to-right non-overlapping pass: a merge can't create a new
    occurrence of its own pair on either side (that would need
    a = a||b or b = a||b)."""
    parts = [f"""wf AS (
          SELECT w, count(*) AS freq
          FROM (SELECT unnest({_toks_sql('text')}) AS w
                FROM documents WHERE text IS NOT NULL)
          GROUP BY 1),
        vocab0 AS (
          SELECT w, [w[i] for i in range(1, len(w)+1)] AS syms, freq
          FROM wf)"""]
    for k in range(1, n_merges + 1):
        parts.append(f"""pc{k} AS (
          SELECT syms[CAST(i AS INT)] AS a,
                 syms[CAST(i AS INT)+1] AS b,
                 sum(freq)::BIGINT AS pair_count
          FROM vocab{k - 1},
               unnest(generate_series(1, len(syms)-1)) t(i)
          GROUP BY 1, 2),
        best{k} AS (SELECT {k} AS step, a, b, pair_count FROM pc{k}
                    ORDER BY pair_count DESC, a, b LIMIT 1),
        v{k} AS (
          SELECT w, syms, freq, 0 AS it FROM vocab{k - 1}
          UNION ALL
          SELECT w, syms[1:CAST(fm AS INT)-1] || [ma || mb]
                    || syms[CAST(fm AS INT)+2:], freq, it + 1
          FROM (SELECT w, syms, freq, it, ma, mb,
                       list_min([i for i in range(1, len(syms))
                                 if syms[CAST(i AS INT)] = ma
                                AND syms[CAST(i AS INT)+1] = mb])
                         AS fm
                FROM v{k}, (SELECT a AS ma, b AS mb FROM best{k}) m) s
          WHERE fm IS NOT NULL),
        vocab{k} AS (
          SELECT w, syms, freq FROM (
            SELECT *, row_number() OVER (
              PARTITION BY w ORDER BY it DESC) AS rn
            FROM v{k}) WHERE rn = 1)""")
    union = "\n        UNION ALL\n        ".join(
        f"SELECT step, a, b, pair_count FROM best{k}"
        for k in range(1, n_merges + 1))
    return ("WITH RECURSIVE " + ",\n        ".join(parts)
            + "\n        " + union)


def _bpe_segmented_sql(n_merges: int, k: int) -> str:
    """Same unrolled learner, but the final select returns the top-k
    SUBWORD tokens of the fully-merged vocabulary (frequency-weighted)
    — i.e. the learned tokenizer APPLIED to the corpus."""
    base = _bpe_unrolled_sql(n_merges)
    head = base.rsplit("SELECT step, a, b, pair_count FROM best1", 1)[0]
    return (head + f"""SELECT tok, sum(freq)::BIGINT AS n
        FROM (SELECT unnest(syms) AS tok, freq FROM vocab{n_merges}) z
        GROUP BY 1 ORDER BY n DESC, tok ASC LIMIT {k}""")


# corpus-mix rates / split weights for `domain_mix_split` — shared by
# the Spark query and its DuckDB oracle so both embed the SAME
# precomputed integer thresholds (see operators/sampling.py)
_MIX_RATES = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.1}
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _stopword_values() -> str:
    from fashion_knowledge_graph_spark.functions.text import LANG_STOPWORDS
    rows = [f"('{lang}', '{t}')"
            for lang, toks in sorted(LANG_STOPWORDS.items()) for t in toks]
    return ", ".join(rows)


def _en_stopword_list() -> str:
    from fashion_knowledge_graph_spark.functions.text import EN_STOPWORDS
    return "[" + ", ".join(f"'{t}'" for t in EN_STOPWORDS) + "]"


en_sw = _en_stopword_list()

_q_expr = f"""(
          0.25 * (CASE WHEN length(text) BETWEEN 20 AND 10000
                       THEN 1.0 ELSE 0.0 END)
        + 0.25 * (CASE WHEN len({toks}) BETWEEN 5 AND 2000
                       THEN 1.0 ELSE 0.0 END)
        + 0.25 * (CASE WHEN (length(text)
                    - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                    / greatest(length(text), 1)::DOUBLE <= 0.3
                       THEN 1.0 ELSE 0.0 END)
        + 0.25 * (CASE WHEN
                    list_sum(list_transform({toks}, t -> length(t)))
                      / greatest(len({toks}), 1)::DOUBLE
                    BETWEEN 2.0 AND 12.0
                       THEN 1.0 ELSE 0.0 END))"""

# PII scan/redaction — identical RE2-safe patterns on both engines
# (functions/text.py::PII_PATTERNS), same deterministic injection
aug_sql = """CASE
        WHEN doc_id % 3 = 0 THEN text || ' contact user' || doc_id::VARCHAR
             || '@example.com via https://shop.example.com/i/'
             || doc_id::VARCHAR
        WHEN doc_id % 5 = 0 THEN text || ' call (555) 010-'
             || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        ELSE text END"""


def _redacted_sql(text_sql: str) -> str:
    for kind in _PII_REDACT_ORDER:
        text_sql = (f"regexp_replace({text_sql}, '{PII_PATTERNS[kind]}', "
                    f"'<{kind.upper()}>', 'g')")
    return text_sql


red_sql = _redacted_sql(aug_sql)
counts_sql = ", ".join(
    f"len(regexp_extract_all({aug_sql}, '{PII_PATTERNS[k]}')) AS n_{k}"
    for k in ("email", "phone", "url", "ip"))

# quality gate: all four signals recomputed over the SAME
# augmented text, verdict = first failing rule (identical order)
pii_total_sql = " + ".join(
    f"coalesce(len(regexp_extract_all(text, "
    f"'{PII_PATTERNS[k]}')), 0)"
    for k in ("email", "phone", "url", "ip"))

# ONE definition of the BM25 CTE chain — text_bm25_topk and the
# hybrid query's lexical leg must never diverge
_bm25_ctes = f"""
        tkb AS (SELECT doc_id AS id, {toks} AS tk
                FROM documents WHERE text IS NOT NULL),
        dlb AS (SELECT id, coalesce(len(tk), 0) AS dl FROM tkb),
        totb AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
                 FROM dlb),
        hitsb AS (SELECT id, unnest(tk) AS w FROM tkb),
        tfb AS (SELECT id, w, count(*) AS tf FROM hitsb
                WHERE w IN ('spark', 'join', 'fast') GROUP BY 1, 2),
        dfb AS (SELECT w, count(*) AS df_t FROM tfb GROUP BY 1),
        bm25 AS (
          SELECT tfb.id,
                 round(sum(
                   ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                   * (tf * 2.2)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
                   AS score
          FROM tfb JOIN dfb USING (w) JOIN dlb ON dlb.id = tfb.id,
               totb
          GROUP BY 1)"""

toks_d = _toks_sql("text")

# domain mixing + split: identical integer thresholds to the Spark
# query (both derive from _MIX_RATES/_SPLIT_WEIGHTS)
_mix_case = "CASE lang " + " ".join(
    f"WHEN '{d}' THEN {rate_threshold(r)}"
    for d, r in sorted(_MIX_RATES.items())) + " ELSE 0 END"
_names = list(_SPLIT_WEIGHTS)
_acc, _cuts = 0.0, []
for _nm in _names[:-1]:
    _acc += _SPLIT_WEIGHTS[_nm]
    _cuts.append(rate_threshold(_acc))
_split_case = "CASE " + " ".join(
    f"WHEN hp < {c} THEN '{n}'"
    for n, c in zip(_names[:-1], _cuts)) + f" ELSE '{_names[-1]}' END"

# bigram LM with stupid backoff: model = the hash_split train
# band (same integer threshold as domain_mix_split); seen bigrams
# score ln(c_ab/c_w1), unseen back off to the smoothed unigram —
# all exact integer ratios inside ln
_train_cut = rate_threshold(_SPLIT_WEIGHTS[_names[0]])

# greedy max-coverage: k=5 unrolled stages (pick → covered union
# → uncovered anti-filter), ties on doc_id asc — the exact trace
# the operator's distributed greedy produces
def _max_coverage_ctes() -> list[str]:
    ctes = [f"""t AS (SELECT DISTINCT doc_id, tok
              FROM (SELECT doc_id,
                      unnest(list_transform(range(1, len(tl)),
                        i -> tl[i] || ' ' || tl[i+1])) AS tok
                    FROM (SELECT doc_id, {toks} AS tl
                          FROM documents
                          WHERE text IS NOT NULL) w) z)"""]
    for i in range(1, 6):
        src = "t" if i == 1 else f"u{i}"
        if i > 1:
            ctes.append(
                f"""u{i} AS (SELECT * FROM t WHERE tok NOT IN
                       (SELECT tok FROM c{i-1}))""")
        ctes.append(
            f"""p{i} AS (SELECT doc_id, count(*) AS gain FROM {src}
                   GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1)""")
        prev = f"SELECT tok FROM c{i-1} UNION " if i > 1 else ""
        ctes.append(
            f"""c{i} AS ({prev}SELECT DISTINCT {src}.tok
                   FROM {src} JOIN p{i} USING (doc_id))""")
    return ctes


_cov = _max_coverage_ctes()
_cov_sel = "\n UNION ALL ".join(
    f"""SELECT {i} AS rank, doc_id, gain AS new_tokens,
              (SELECT count(*) FROM c{i}) AS total_covered
            FROM p{i}""" for i in range(1, 6))


@query(oracle="""
        SELECT doc_id,
               md5(doc_id::VARCHAR) AS id_md5,
               sha256(doc_id::VARCHAR || ':' || coalesce(text, ''))
                 AS content_sha2
        FROM documents
    """)
def f9_content_ids(spark, sf):
    # F9 (reference app/main.py:676,704 uses uuid4 for image ids):
    # content-addressed deterministic ids — md5 for the short
    # form, sha2-256 over (id, text) for the collision-safe form —
    # reproducible across reruns/engines, unlike uuid().
    docs = _load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("id_md5"),
        F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                        F.coalesce(F.col("text"), F.lit(""))),
               256).alias("content_sha2"))


@query(oracle=lambda: f"""
        SELECT doc_id,
               len({toks}) AS n_tokens,
               length(text) AS n_chars_m,
               round((length(text)
                      - length(regexp_replace(text, '[0-9]', '', 'g')))
                     / greatest(length(text), 1)::DOUBLE, 6) AS digit_ratio,
               round(list_sum(list_transform({toks}, t -> length(t)))
                     / greatest(len({toks}), 1)::DOUBLE, 6) AS mean_tok_len
        FROM documents
    """)
def text_token_stats(spark, sf):
    docs = _load(spark, sf, "documents")
    st = tx.char_stats(F.col("text"))
    return docs.select(
        "doc_id", st["n_tokens"].alias("n_tokens"),
        st["n_chars"].alias("n_chars_m"),
        F.round(st["digit_ratio"], 6).alias("digit_ratio"),
        F.round(tx.mean_token_len(F.col("text")), 6).alias("mean_tok_len"))


@query(oracle=lambda: f"""
        SELECT doc_id,
          round(0.25 * (CASE WHEN length(text) BETWEEN 20 AND 10000
                             THEN 1.0 ELSE 0.0 END)
              + 0.25 * (CASE WHEN len({toks}) BETWEEN 5 AND 2000
                             THEN 1.0 ELSE 0.0 END)
              + 0.25 * (CASE WHEN (length(text)
                          - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                          / greatest(length(text), 1)::DOUBLE <= 0.3
                             THEN 1.0 ELSE 0.0 END)
              + 0.25 * (CASE WHEN
                          list_sum(list_transform({toks}, t -> length(t)))
                            / greatest(len({toks}), 1)::DOUBLE
                          BETWEEN 2.0 AND 12.0
                             THEN 1.0 ELSE 0.0 END), 6) AS quality,
          round(len(list_filter({toks}, t -> list_contains({en_sw}, t)))
                / greatest(len({toks}), 1)::DOUBLE, 6) AS stopword_ratio
        FROM documents
    """, headline=True)
def text_quality(spark, sf):
    docs = _load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.round(tx.quality_score(F.col("text")), 6).alias("quality"),
        F.round(tx.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"))


@query(oracle=lambda: f"""
        WITH tok AS (
          SELECT doc_id, unnest({toks}) AS token FROM documents),
        sw(lang, token) AS (VALUES {_stopword_values()}),
        hits AS (
          SELECT doc_id, lang, count(*) AS lang_hits
          FROM tok JOIN sw USING (token) GROUP BY 1, 2),
        best AS (
          SELECT doc_id, lang, lang_hits, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY lang_hits DESC, lang ASC) AS rn
          FROM hits)
        SELECT d.doc_id,
               coalesce(b.lang, 'und') AS lang_pred,
               coalesce(b.lang_hits, 0) AS lang_hits
        FROM documents d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """, headline=True)
def text_lang_id(spark, sf):
    return tx.lang_id(_load(spark, sf, "documents"))


@query(oracle=lambda: f"""
        WITH tok AS (
          SELECT doc_id, unnest({toks}) AS token FROM documents),
        sw(lang, token) AS (VALUES {_stopword_values()}),
        hits AS (
          SELECT doc_id, lang, count(*) AS lang_hits
          FROM tok JOIN sw USING (token) GROUP BY 1, 2),
        best AS (
          SELECT doc_id, lang, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY lang_hits DESC, lang ASC) AS rn
          FROM hits),
        pred AS (
          SELECT d.doc_id, d.lang AS lang_true,
                 coalesce(b.lang, 'und') AS lang_pred
          FROM documents d
          LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
            USING (doc_id)),
        cm AS (SELECT lang_true, lang_pred, count(*) AS n
               FROM pred GROUP BY 1, 2),
        tot AS (SELECT lang_true, sum(n)::BIGINT AS t
                FROM cm GROUP BY 1)
        SELECT cm.lang_true, cm.lang_pred, cm.n,
               round(cm.n::DOUBLE / tot.t, 6) AS recall
        FROM cm JOIN tot USING (lang_true)
    """)
def text_langid_confusion(spark, sf):
    # self-evaluation of the lang-ID heuristic against the ground-
    # truth lang column: the full confusion matrix (true × pred)
    # with per-cell counts and per-true-language recall — the
    # eval loop a production lang filter tunes against
    pred = tx.lang_id(_load(spark, sf, "documents"))             .select("doc_id", "lang_pred")
    truth = _load(spark, sf, "documents").select("doc_id", "lang")
    cm = (truth.join(pred, "doc_id")
          .groupBy(F.col("lang").alias("lang_true"), "lang_pred")
          .agg(F.count(F.lit(1)).alias("n")))
    tot = cm.groupBy("lang_true").agg(F.sum("n").alias("t"))
    return (cm.join(tot, "lang_true")
            .select("lang_true", "lang_pred", "n",
                    F.round(F.col("n").cast("double")
                            / F.col("t"), 6).alias("recall")))


@query(oracle=lambda: f"""
        SELECT doc_id, md5({_norm_sql('text')}) AS fingerprint
        FROM documents
    """)
def text_fingerprint(spark, sf):
    docs = _load(spark, sf, "documents")
    return docs.select(
        "doc_id", tx.fingerprint_md5(F.col("text")).alias("fingerprint"))


# decontamination: word-4-gram overlap between the doc_id%41 bench
# split and the rest, replayed with the same tokenizer/shingle spec
@query(oracle=lambda: f"""
        WITH toksd AS (
          SELECT doc_id AS id, {_toks_sql('text')} AS tk
          FROM documents WHERE text IS NOT NULL),
        sh4 AS (
          SELECT id, CASE
            WHEN len(tk) >= 4 THEN list_distinct(list_transform(
                   range(1, len(tk) - 2),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                        || ' ' || tk[i+3]))
            WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
            ELSE []::VARCHAR[] END AS shs
          FROM toksd),
        post4 AS (SELECT id, unnest(shs) AS s FROM sh4),
        tp AS (SELECT * FROM post4 WHERE id % 41 <> 0),
        bp AS (SELECT * FROM post4 WHERE id % 41 = 0),
        hits AS (
          SELECT tp.id,
                 count(DISTINCT tp.s) AS n_hit_shingles,
                 count(DISTINCT bp.id) AS n_bench_docs
          FROM tp JOIN bp ON tp.s = bp.s GROUP BY 1),
        sizes4 AS (
          SELECT id, count(*) AS train_shingles FROM tp
          WHERE id IN (SELECT id FROM hits) GROUP BY 1)
        SELECT hits.id AS train_id, n_hit_shingles, n_bench_docs,
               train_shingles,
               round(n_hit_shingles / train_shingles::DOUBLE, 6)
                 AS contamination_frac
        FROM hits JOIN sizes4 ON hits.id = sizes4.id
    """, headline=True)
def decontam_overlap(spark, sf):
    # Benchmark decontamination (LLM pretraining hygiene): docs
    # with doc_id % 41 == 0 stand in for a held-out eval set;
    # training docs sharing any word-4-gram with them are flagged
    # with overlap stats. Bench posting list broadcasts, so the
    # train side never shuffles (operators/dedup.py::decontaminate)
    docs = _docs_split(spark, sf).filter(F.col("text").isNotNull())
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    train = docs.filter(F.col("doc_id") % 41 != 0)
    return dd.decontaminate(train, bench, n=4) \
        .select(F.col("id").alias("train_id"), "n_hit_shingles",
                "n_bench_docs", "train_shingles",
                "contamination_frac")


@query(oracle=lambda: f"""
        WITH h AS (
          SELECT doc_id, lang, source,
                 ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT AS hm,
                 ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT AS hp
          FROM documents)
        SELECT doc_id, lang, source, {_split_case} AS split
        FROM h WHERE hm < {_mix_case}
    """, headline=True)
def domain_mix_split(spark, sf):
    # Corpus mixing + dataset split (LLM pretraining): per-lang
    # sampling rates then a disjoint train/val/test assignment,
    # both pure deterministic functions of (salt, doc_id) via the
    # portable 60-bit md5 hash — reproducible across reruns,
    # partitionings, and cluster sizes, unlike rand()/df.sample
    # (operators/sampling.py). The oracle replays the identical
    # integer-threshold decisions.
    docs = _load(spark, sf, "documents")
    mixed = domain_sample(docs, "doc_id", "lang", _MIX_RATES,
                          salt="mix")
    return hash_split(mixed, "doc_id", _SPLIT_WEIGHTS,
                      salt="split") \
        .select("doc_id", "lang", "source", "split")


@query(oracle=lambda: f"""
        WITH aug AS (SELECT doc_id, {aug_sql} AS text FROM documents),
        tkx AS (SELECT doc_id, {toks} AS tk, text FROM aug),
        sig AS (
          SELECT doc_id,
                 coalesce(len(tk), 0) AS n_tokens,
                 CASE WHEN coalesce(len(tk), 0) >= 2
                      THEN round(1.0 - len(list_distinct(
                             list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i+1])))
                           / (len(tk) - 1)::DOUBLE, 6)
                      ELSE 0.0 END AS rep_frac,
                 ({pii_total_sql}) AS pii_total
          FROM tkx),
        tokq AS (SELECT doc_id, unnest(tk) AS token FROM tkx),
        swq(lang, token) AS (VALUES {_stopword_values()}),
        hitsq AS (
          SELECT doc_id, lang, count(*) AS lang_hits
          FROM tokq JOIN swq USING (token) GROUP BY 1, 2),
        bestq AS (
          SELECT doc_id, lang, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY lang_hits DESC, lang ASC) AS rn
          FROM hitsq),
        langq AS (
          SELECT a.doc_id, coalesce(b.lang, 'und') AS lang_pred
          FROM aug a LEFT JOIN (SELECT * FROM bestq WHERE rn = 1) b
            USING (doc_id))
        SELECT s.doc_id AS id, s.n_tokens, s.rep_frac, l.lang_pred,
               s.pii_total,
               CASE WHEN s.n_tokens < 30 THEN 'too_short'
                    WHEN s.n_tokens > 100000 THEN 'too_long'
                    WHEN s.rep_frac > 0.2 THEN 'repetitive'
                    WHEN l.lang_pred NOT IN ('en', 'de', 'es', 'fr')
                         THEN 'lang'
                    WHEN s.pii_total > 0 THEN 'pii'
                    ELSE 'pass' END AS verdict
        FROM sig s JOIN langq l ON s.doc_id = l.doc_id
    """, headline=True)
def text_quality_gate(spark, sf):
    # Dolma-style declarative mixer: fixed rule set, one verdict
    # per doc (first failing rule). PII injected deterministically
    # (corpus carries none) with the same expression as
    # text_pii_redact so the pii rule fires non-vacuously.
    docs = _load(spark, sf, "documents")
    aug = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com via https://shop.example.com/i/"),
                 F.col("doc_id").cast("string"))
    ).when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" call (555) 010-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"),
                        4, "0"))
    ).otherwise(F.col("text"))
    return quality_gate(
        docs.select("doc_id", aug.alias("text")),
        min_tokens=30, max_rep_frac=0.2,
        allowed_langs=("en", "de", "es", "fr"), max_pii=0)


@query(oracle=lambda: f"""
        WITH tkp AS (SELECT {toks} AS tk FROM documents),
        unip AS (SELECT unnest(tk) AS w FROM tkp),
        uc AS (SELECT w, count(*) AS c_w FROM unip GROUP BY 1),
        nu AS (SELECT sum(c_w)::BIGINT AS n_u FROM uc),
        bigp AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
                 FROM tkp, LATERAL unnest(range(1, len(tk))) AS t(i)),
        bc AS (SELECT w1, w2, count(*) AS c_ab FROM bigp
               GROUP BY 1, 2 HAVING count(*) >= 5),
        nb AS (SELECT count(*) AS n_b FROM bigp)
        SELECT w1, w2, c_ab,
               round(ln((c_ab / n_b)
                        / ((ca.c_w / n_u) * (cb.c_w / n_u))), 6) AS pmi
        FROM bc JOIN uc ca ON ca.w = bc.w1
                JOIN uc cb ON cb.w = bc.w2, nu, nb
    """)
def text_pmi_collocations(spark, sf):
    # collocation mining: pointwise mutual information of adjacent
    # word pairs, ln((c_ab/N_b) / ((c_a/N_u)(c_b/N_u))), min-count
    # 5. Corpus totals ride a broadcast crossJoin (two scalar
    # rows), never a driver collect; both count aggs are
    # partial-agg'd. The bigram posting comes from the shared
    # Arrow shingle kernel.
    docs = _load(spark, sf, "documents")
    toks = docs.select(F.explode(txf.tokens(F.col("text")))
                       .alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    # corpus totals from per-doc token counts — one cheap codegen
    # agg over the docs scan, NOT a second pass over the exploded
    # token/bigram tables (n_u = Σ n_tokens, n_b = Σ (n_tokens-1))
    nt = F.coalesce(txf.token_count(F.col("text")), F.lit(0))
    totals = docs.agg(
        F.sum(nt).alias("n_u"),
        F.sum(F.greatest(nt - 1, F.lit(0))).alias("n_b"))
    # adjacent pairs: NON-distinct bigrams (posexplode windows),
    # not the deduped shingle posting — PMI needs true counts
    big = docs.select(
        txf.tokens(F.col("text")).alias("tk")) \
        .select(F.posexplode("tk").alias("i", "w1"), "tk") \
        .filter(F.col("i") < F.size("tk") - 1) \
        .select("w1", F.col("tk")[F.col("i") + 1].alias("w2"))
    bi = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab")) \
        .filter(F.col("c_ab") >= 5)
    ua = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    out = bi.join(ua, "w1").join(ub, "w2") \
        .crossJoin(F.broadcast(totals))
    pmi = F.log((F.col("c_ab") / F.col("n_b"))
                / ((F.col("c_a") / F.col("n_u"))
                   * (F.col("c_b") / F.col("n_u"))))
    return out.select("w1", "w2", "c_ab",
                      F.round(pmi, 6).alias("pmi"))


@query(oracle=lambda: f"""
        WITH tok AS (
          SELECT doc_id, unnest({toks}) AS w
          FROM documents WHERE text IS NOT NULL),
        uc AS (SELECT w, count(*) AS c_w FROM tok GROUP BY 1),
        tot AS (SELECT sum(c_w)::BIGINT AS n_tok,
                       count(*)::BIGINT AS vocab FROM uc)
        SELECT doc_id, count(*) AS n_tokens,
               round(sum(ln((c_w + 1)::DOUBLE
                            / (n_tok + vocab)::DOUBLE))
                     / count(*), 6) AS mean_logp
        FROM tok JOIN uc USING (w), tot
        GROUP BY doc_id
    """)
def text_lm_score(spark, sf):
    # CCNet-style LM quality stand-in: per-doc mean unigram
    # log-likelihood under the corpus's own (add-one-smoothed)
    # unigram model — two partial-agg'd passes (vocab counts,
    # per-doc sum) joined on the token; high-perplexity docs rank
    # last. ln arithmetic identical in both engines, rounded.
    docs = _load(spark, sf, "documents") \
        .filter(F.col("text").isNotNull())
    tok = docs.select("doc_id",
                      F.explode(txf.tokens(F.col("text")))
                      .alias("w"))
    uc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    totals = uc.agg(F.sum("c_w").alias("n_tok"),
                    F.count(F.lit(1)).alias("vocab"))
    logp = F.log((F.col("c_w") + 1).cast("double")
                 / (F.col("n_tok") + F.col("vocab")).cast("double"))
    return (tok.join(uc, "w").crossJoin(F.broadcast(totals))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.sum(logp)
                         / F.count(F.lit(1)), 6).alias("mean_logp")))


@query(oracle=lambda: f"""
        WITH d AS (SELECT doc_id, {toks} AS tk
                   FROM documents WHERE text IS NOT NULL),
        model AS (
          SELECT tk FROM d
          WHERE ('0x' || substr(md5('split:' || doc_id::VARCHAR),
                                1, 15))::BIGINT < {_train_cut}),
        munn AS (SELECT unnest(tk) AS w FROM model),
        mu AS (SELECT w, count(*) AS c_w FROM munn GROUP BY 1),
        mb AS (SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS c_ab
               FROM model, LATERAL unnest(range(1, len(tk))) AS t(i)
               GROUP BY 1, 2),
        tot AS (SELECT sum(c_w)::BIGINT AS n_tok,
                       count(*)::BIGINT AS vocab FROM mu),
        db AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
               FROM d, LATERAL unnest(range(1, len(tk))) AS t(i))
        SELECT doc_id, count(*) AS n_bigrams,
               round(sum(CASE WHEN c_ab IS NOT NULL
                         THEN ln(c_ab::DOUBLE / u1.c_w)
                         ELSE ln(0.4 * (coalesce(u2.c_w, 0) + 1)::DOUBLE
                                 / (n_tok + vocab)) END)
                     / count(*), 6) AS mean_logp
        FROM db
        LEFT JOIN mb ON mb.w1 = db.w1 AND mb.w2 = db.w2
        LEFT JOIN mu u1 ON u1.w = db.w1
        LEFT JOIN mu u2 ON u2.w = db.w2, tot
        GROUP BY 1
    """)
def text_bigram_lm(spark, sf):
    # CCNet/KenLM-shaped quality filter: score EVERY doc under a
    # stupid-backoff bigram LM built from the deterministic
    # hash_split train split — held-out docs hit real OOV
    # bigrams, so both scoring branches are live; the oracle
    # replays the split threshold, the counts, and the backoff
    docs = _load(spark, sf, "documents") \
        .filter(F.col("text").isNotNull())
    split = hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt="split")
    model = split.filter(F.col("split") == "train")
    return bigram_lm_score(docs, model)


@query(oracle=lambda: f"""
        WITH {_bm25_ctes}
        SELECT id AS doc_id, score, rank
        FROM (SELECT *, row_number() OVER (
                ORDER BY score DESC, id ASC) AS rank FROM bm25) z
        WHERE rank <= 20
    """, headline=True)
def text_bm25_topk(spark, sf):
    # BM25 ranked retrieval (Lucene idf) for a fixed 3-term query
    # — the lexical twin of the embedding searches; the token
    # explode is filtered to the query terms before any shuffle
    docs = _load(spark, sf, "documents") \
        .filter(F.col("text").isNotNull())
    return bm25_topk(docs, ["spark", "join", "fast"], k=20)


@query(oracle=lambda: f"""
        WITH {_bm25_ctes},
        lex AS (
          SELECT id AS doc_id, row_number() OVER (
                   ORDER BY score DESC, id ASC) AS rank
          FROM bm25
          QUALIFY rank <= 50),
        sem AS (
          SELECT c.vec_id AS doc_id, row_number() OVER (
                   ORDER BY list_cosine_similarity(
                     q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                     DESC, c.vec_id ASC) AS rank
          FROM embeddings q JOIN embeddings c ON c.vec_id <> 0
          WHERE q.vec_id = 0
          QUALIFY rank <= 50),
        u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
        fused AS (
          SELECT doc_id,
                 round(sum(1.0 / (60.0 + rank)), 6) AS rrf_score
          FROM u GROUP BY 1)
        SELECT doc_id, rrf_score, rank
        FROM (SELECT *, row_number() OVER (
                ORDER BY rrf_score DESC, doc_id ASC) AS rank
              FROM fused) z
        WHERE rank <= 20
    """, headline=True)
def hybrid_search_rrf(spark, sf):
    # hybrid retrieval, the production search shape: lexical BM25
    # list + semantic cosine list (doc 0's embedding as the query)
    # fused with RRF k=60, top-20 — both lists and the fusion are
    # existing operators; every stage already oracle-replayable
    docs = _load(spark, sf, "documents") \
        .filter(F.col("text").isNotNull())
    emb = _load(spark, sf, "embeddings")
    lex = bm25_topk(docs, ["spark", "join", "fast"], k=50) \
        .select("doc_id", "rank")
    sem = sim.cosine_topk(emb.filter(F.col("vec_id") == 0),
                          emb, k=50) \
        .select(F.col("corpus_id").alias("doc_id"), "rank")
    fused = rrf_fuse([lex, sem], keys=[], id_col="doc_id", k=60) \
        .withColumn("rrf_score", F.round("rrf_score", 6))
    # rank on the ROUNDED score (exactly what the oracle ranks on)
    # so sub-1e-6 score differences can't reorder across engines
    return add_rank(fused, [],
                    [F.desc("rrf_score"), F.asc("doc_id")]) \
        .filter(F.col("rank") <= 20) \
        .select("doc_id", "rrf_score", "rank")


@query(oracle=lambda: f"""
        SELECT lang, source, count(*) AS n_docs,
               sum(coalesce(len({toks}), 0))::BIGINT AS total_tokens,
               sum(coalesce(length(text), 0))::BIGINT AS total_chars,
               round(avg({_q_expr}), 6) AS mean_quality
        FROM documents GROUP BY 1, 2
    """)
def corpus_stats_card(spark, sf):
    # the "datasheet" rollup every corpus release ships: per
    # (lang, source) doc counts, token totals, char totals, mean
    # quality — one partial-agg'd pass, all signals codegen
    docs = _load(spark, sf, "documents")
    nt = F.coalesce(txf.token_count(F.col("text")), F.lit(0))
    return (docs.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(nt).alias("total_tokens"),
                 F.sum(F.coalesce(F.length("text"), F.lit(0)))
                 .alias("total_chars"),
                 F.round(F.avg(txf.quality_score(F.col("text"))), 6)
                 .alias("mean_quality")))


@query(oracle="""
        WITH es AS (
          SELECT doc_id, lang, n_chars,
                 ln(((('0x' || substr(md5('wsample:'
                        || doc_id::VARCHAR), 1, 15))::BIGINT + 1)
                     ::DOUBLE) / 1152921504606846976.0)
                   / n_chars::DOUBLE AS es_key
          FROM documents
          WHERE n_chars IS NOT NULL AND n_chars > 0)
        SELECT doc_id, lang, n_chars
        FROM (SELECT *, row_number() OVER (
                PARTITION BY lang
                ORDER BY es_key DESC, doc_id ASC) AS rn FROM es) z
        WHERE rn <= 10
    """)
def weighted_doc_sample(spark, sf):
    # weighted sampling without replacement (Efraimidis–Spirakis):
    # 10 docs per lang, inclusion probability ∝ n_chars; the
    # ln(u)/w ranking uses the portable hash so the oracle
    # reproduces the SAME sample bit-for-bit
    docs = _load(spark, sf, "documents")
    return weighted_sample_k(docs, "doc_id", "n_chars", k=10,
                             by=["lang"]) \
        .select("doc_id", "lang", "n_chars")


@query(oracle=lambda: f"""
        SELECT doc_id, {counts_sql}, {red_sql} AS redacted
        FROM documents
    """)
def text_pii_redact(spark, sf):
    # deterministic PII injection (the synthetic corpus carries
    # none): every 3rd doc gains an email+URL, every 5th a phone —
    # replayed identically in the oracle, so the scan/redact
    # logic is exercised non-vacuously
    docs = _load(spark, sf, "documents")
    aug = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com via https://shop.example.com/i/"),
                 F.col("doc_id").cast("string"))
    ).when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" call (555) 010-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"),
                        4, "0"))
    ).otherwise(F.col("text"))
    pc = tx.pii_counts(aug)
    return docs.select(
        "doc_id",
        pc["email"].alias("n_email"), pc["phone"].alias("n_phone"),
        pc["url"].alias("n_url"), pc["ip"].alias("n_ip"),
        tx.redact_pii(aug).alias("redacted"))


@query(oracle="""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                   t -> t <> '') AS tk
          FROM documents
          WHERE text IS NOT NULL AND doc_id < 1000),
        nz AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
        idx AS (SELECT doc_id, tk, n,
                       unnest(range(0, greatest((n - 1) // 24, 0) + 1))
                         AS chunk_idx
                FROM nz),
        sl AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                      list_slice(tk, chunk_idx * 24 + 1,
                                 chunk_idx * 24 + 32) AS ck
               FROM idx)
        SELECT doc_id, chunk_idx,
               CAST(len(ck) AS INT) AS n_tokens,
               array_to_string(ck, ' ') AS chunk_text
        FROM sl
        WHERE chunk_idx = 0 OR len(ck) > 8
    """)
def text_chunking(spark, sf):
    # RAG-ingestion chunking: 32-token windows, 8-token overlap,
    # reassembled at whitespace boundaries — pure codegen array
    # expressions, zero shuffles, chunks at scan speed
    # (functions/text.py::chunk_documents)
    docs = _load(spark, sf, "documents") \
        .filter(F.col("doc_id") < 1000)
    return chunk_documents(docs, chunk_tokens=32,
                           overlap_tokens=8) \
        .select(F.col("id").alias("doc_id"), "chunk_idx",
                "n_tokens", "chunk_text")


@query(oracle=lambda: f"""
        SELECT id, n_tokens, n_ngrams, n_distinct,
               CASE WHEN n_ngrams > 0
                    THEN round(1.0 - n_distinct / n_ngrams::DOUBLE, 6)
                    ELSE 0.0 END AS rep_frac
        FROM (
          SELECT doc_id AS id,
                 len(tk) AS n_tokens,
                 greatest(len(tk) - 1, 0) AS n_ngrams,
                 CASE WHEN len(tk) >= 2 THEN len(list_distinct(
                        list_transform(range(1, len(tk)),
                                       i -> tk[i] || ' ' || tk[i+1])))
                      ELSE 0 END AS n_distinct
          FROM (SELECT doc_id, {toks} AS tk FROM documents))
    """)
def text_repetition(spark, sf):
    return dd.ngram_repetition_stats(_load(spark, sf, "documents"),
                                     n=2)


@query(oracle=lambda: f"""
        WITH tf AS (
          SELECT doc_id, token AS term, count(*) AS tf
          FROM (SELECT doc_id, unnest({toks}) AS token FROM documents)
          GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
        nn AS (SELECT count(*) AS n FROM documents),
        ranked AS (
          SELECT doc_id, term, tf, df_t,
                 tf * (ln((nn.n + 1) / (df_t + 1.0)) + 1.0) AS tfidf,
                 row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY tf * (ln((nn.n + 1) / (df_t + 1.0)) + 1.0)
                            DESC, term ASC) AS rnk
          FROM tf JOIN dfreq USING (term) CROSS JOIN nn)
        SELECT doc_id, term, tf, df_t, round(tfidf, 6) AS tfidf, rnk
        FROM ranked WHERE rnk <= 3
    """, headline=True)
def tfidf_top_terms(spark, sf):
    return tx.tfidf_top_terms(_load(spark, sf, "documents"), k=3)


# temperature mixing weights: n^0.7 normalized + 10k budget
@query(oracle="""
        WITH counts AS (
          SELECT source, count(*) AS n_docs
          FROM documents GROUP BY 1),
        p AS (SELECT source, n_docs,
                     pow(CAST(n_docs AS DOUBLE), 0.7) AS pp
              FROM counts),
        t AS (SELECT sum(pp) AS tot FROM p)
        SELECT source, n_docs,
               round(pp / tot, 6) AS weight,
               round(pp / tot * 10000.0, 6) AS expected_docs
        FROM p CROSS JOIN t
    """)
def domain_mix_temperature(spark, sf):
    # α=0.7 temperature-scaled sampling weights per source (the
    # mBERT/XLM-R tail-upsampling recipe) + expected draws for a
    # 10k budget — one partial-agg pass over the corpus, then
    # dim-sized arithmetic (operators/sampling.py::
    # temperature_weights)
    docs = _load(spark, sf, "documents")
    t = temperature_weights(docs, "source", alpha=0.7, budget=10000)
    return t.select("source", "n_docs",
                    F.round("weight", 6).alias("weight"),
                    "expected_docs")


# char entropy: H = −Σ n_c·log2(n_c)/n + log2(n) (same algebraic
# form as the Spark plan so the float path is identical)
@query(oracle="""
        WITH chars AS (
          SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1, length(text))) AS i
                FROM documents WHERE text IS NOT NULL)),
        freq AS (SELECT doc_id, ch, count(*) AS n_c
                 FROM chars WHERE ch <> '' GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(n_c) AS BIGINT) AS n_chars,
               round((-sum(n_c * log2(n_c::DOUBLE))) / sum(n_c)
                     + log2(sum(n_c)::DOUBLE), 6) AS entropy
        FROM freq GROUP BY doc_id
    """)
def text_char_entropy(spark, sf):
    # per-doc character Shannon entropy (bits) — the degenerate-
    # text detector (padding/base64/mojibake) complementing the
    # ratio-rule quality gate; explode + two partial-agg'd
    # groupBys, pure codegen (functions/text.py::char_entropy)
    docs = _load(spark, sf, "documents") \
        .filter(F.col("text").isNotNull())
    return char_entropy(docs)


# RAKE: islands replay (pos − row_number; DuckDB's 1-based
# subscripts shift pos AND island uniformly — grouping unchanged),
# exact-int word stats, rank over the ROUNDED score
@query(oracle="""
        WITH toks AS (
          SELECT doc_id AS doc,
                 unnest(string_split(text, ' ')) AS tok,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents WHERE text IS NOT NULL),
        ns AS (SELECT doc, tok, pos FROM toks
               WHERE tok <> '' AND tok NOT IN
                 ('the','a','and','of','to','in','is','that',
                  'for','with')),
        isl AS (SELECT doc, tok, pos,
                       pos - row_number() OVER (
                         PARTITION BY doc ORDER BY pos) AS island
                FROM ns),
        inst AS (SELECT doc, island,
                        string_agg(tok, ' ' ORDER BY pos) AS phrase,
                        count(*) AS plen
                 FROM isl GROUP BY 1, 2 HAVING count(*) <= 4),
        members AS (SELECT isl.tok, inst.plen, isl.doc, isl.island
                    FROM isl JOIN inst USING (doc, island)),
        wscore AS (SELECT tok, sum(plen)::DOUBLE / count(*) AS wscore
                   FROM members GROUP BY 1),
        pscores AS (SELECT m.doc, m.island, sum(w.wscore) AS pscore
                    FROM members m JOIN wscore w USING (tok)
                    GROUP BY 1, 2),
        ranked AS (SELECT i.phrase, count(*) AS n_occurrences,
                          round(min(p.pscore), 6) AS score
                   FROM inst i JOIN pscores p USING (doc, island)
                   GROUP BY 1)
        SELECT phrase, n_occurrences, score,
               row_number() OVER (ORDER BY score DESC, phrase ASC)
                 AS rank
        FROM ranked
        QUALIFY rank <= 25
    """, headline=True)
def text_rake_keyphrases(spark, sf):
    # RAKE unsupervised keyphrase extraction: stopword-free token
    # runs via the gaps-and-islands window, deg/freq word scores
    # (vocabulary-sized table, broadcast back), phrase = Σ member
    # scores, top-25 by rounded score
    # (functions/text.py::rake_keyphrases)
    return rake_keyphrases(_load(spark, sf, "documents"), top=25)


@query(oracle=lambda: f"""
        WITH RECURSIVE t AS (
          SELECT doc_id AS id, doc_id // 100 AS shard,
                 len({toks_d}) AS tok,
                 row_number() OVER (PARTITION BY doc_id // 100
                                    ORDER BY doc_id) AS rn
          FROM documents WHERE text IS NOT NULL
        ), p AS (
          SELECT id, shard, rn, tok, tok AS fill,
                 CAST(0 AS BIGINT) AS bin
          FROM t WHERE rn = 1
          UNION ALL
          SELECT t.id, t.shard, t.rn, t.tok,
                 CASE WHEN p.fill + t.tok > 512 THEN t.tok
                      ELSE p.fill + t.tok END,
                 CASE WHEN p.fill + t.tok > 512 THEN p.bin + 1
                      ELSE p.bin END
          FROM t JOIN p ON t.shard = p.shard AND t.rn = p.rn + 1
        )
        SELECT id, shard, bin, fill AS fill_after FROM p
    """, headline=True)
def pack_sequences(spark, sf):
    # LLM-training sequence packing: greedy fixed-token-budget bin
    # assignment, deterministic per fixed doc_id shard (see
    # operators/packing.py — the sequential decision runs inside a
    # per-shard applyInPandas; the DuckDB oracle replays the greedy
    # walk as a recursive CTE)
    docs = _load(spark, sf, "documents").filter(
        F.col("text").isNotNull())
    toks = docs.select("doc_id", token_count("text").alias("n_tokens"))
    return pack_greedy(toks, id_col="doc_id", token_col="n_tokens",
                       capacity=512, shard_width=100)


@query(oracle=lambda: (
    "WITH " + ",\n".join(_cov) + "\n" + _cov_sel))
def select_max_coverage(spark, sf):
    # Budgeted corpus selection: greedy (1−1/e) max-coverage pick
    # of 5 docs maximizing word-BIGRAM coverage (916-bigram space
    # at sf0.01 — unigrams collapse to 31) — k rounds of
    # anti-join + word-count-shaped aggregation, covered set
    # stays distributed (operators/selection.py)
    docs = (_load(spark, sf, "documents")
            .filter(F.col("text").isNotNull()))
    dt = (docs.select("doc_id", tokens(F.col("text")).alias("t"))
          .select("doc_id", F.explode(F.expr(
              # sequence(1,0) would be DESCENDING, not empty —
              # guard the 1-token case explicitly
              "CASE WHEN size(t) >= 2 THEN "
              "transform(sequence(1, size(t)-1), i -> "
              "concat(element_at(t, i), ' ', "
              "element_at(t, i+1))) ELSE array() END"))
              .alias("tok")))
    return greedy_max_coverage(dt, k=5)


@query(oracle=lambda: f"""
        WITH wf AS (
          SELECT w, count(*) AS freq
          FROM (SELECT unnest({toks}) AS w
                FROM documents WHERE text IS NOT NULL)
          GROUP BY 1),
        pairs AS (
          SELECT substring(w, CAST(i AS INT), 1) AS a,
                 substring(w, CAST(i AS INT) + 1, 1) AS b, freq
          FROM wf, unnest(generate_series(1, length(w) - 1)) AS t(i))
        SELECT a, b, sum(freq)::BIGINT AS pair_count
        FROM pairs GROUP BY 1, 2
        ORDER BY pair_count DESC, a ASC, b ASC LIMIT 20
    """, headline=True)
def tok_bpe_pair_counts(spark, sf):
    # tokenizer training, iteration-0: frequency-weighted adjacent
    # character-pair counts over the corpus vocabulary — the BPE
    # merge-candidate table (operators/tokenizer.py, Sennrich et
    # al. 2016). ONE corpus pass (map-side-combined word count);
    # the pair explode runs over the aggregated vocab, which is
    # corpus-size-independent, so at 10^12 docs only the word
    # count scales. The oracle replays the exact counts and the
    # (count desc, pair asc) top-20 selection.
    return char_pair_counts(_load(spark, sf, "documents"), k=20)


@query(oracle=lambda: _bpe_unrolled_sql(3))
def tok_bpe_learn_merges(spark, sf):
    # the ITERATIVE BPE learner itself, driver-oracled: 3 learned
    # merges (step, a, b, pair_count). Spark runs the real loop
    # (pair-count top-1 → codegen'd array-fold merge over the
    # distributed vocab, operators/tokenizer.py); the oracle
    # replays it as 3 unrolled SQL stages where each merge
    # application is a per-word recursive CTE splicing out the
    # leftmost occurrence until none remains — provably equal to
    # the left-to-right non-overlapping pass (a merge never
    # creates a new occurrence of its own pair to either side).
    merges = learn_bpe(_load(spark, sf, "documents"), 3)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "step int, a string, b string, pair_count long")


@query(oracle=lambda: _bpe_segmented_sql(3, 10))
def tok_bpe_segment_corpus(spark, sf):
    # the learned tokenizer APPLIED: segment the corpus vocabulary
    # with the 3 learned merges (codegen'd array folds) and report
    # the top-10 frequency-weighted subword tokens — train AND
    # apply, both driver-oracled (the oracle re-learns the merges
    # through the same unrolled recursive replay and segments
    # identically).
    docs = _load(spark, sf, "documents")
    merges = learn_bpe(docs, 3)
    vocab = word_freqs(docs).select(
        F.expr("transform(sequence(1, length(w)), "
               "i -> substring(w, i, 1))").alias("syms"),
        "freq")
    seg = apply_merges(vocab, merges)
    return (seg.select(F.explode("syms").alias("tok"), "freq")
            .groupBy("tok")
            .agg(F.sum("freq").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("tok")).limit(10))


@query(oracle=lambda: f"""
        WITH tok AS (SELECT doc_id, unnest({toks}) AS w
                     FROM documents WHERE text IS NOT NULL),
        nd AS (SELECT count(*)::DOUBLE AS n FROM documents
               WHERE text IS NOT NULL),
        per AS (SELECT w, doc_id, count(*) AS c
                FROM tok GROUP BY 1, 2),
        stats AS (SELECT w, count(*) AS df, sum(c) AS sc,
                         sum(c * c) AS scc
                  FROM per GROUP BY 1)
        SELECT w, df,
               round((scc / nd.n - (sc / nd.n) * (sc / nd.n))
                     / (sc / nd.n), 6) AS fano
        FROM stats, nd
        ORDER BY df DESC, w ASC LIMIT 10
    """)
def text_burstiness(spark, sf):
    # lexical burstiness: Fano factor (variance/mean of per-doc
    # counts, zero docs included) for the 10 highest-df terms —
    # bursty content words score ≫ 1, uniformly sprinkled function
    # words ≈ 1. Zero-doc inclusion comes free from the moment
    # form (Σc, Σc², N) — no dense doc×term matrix materializes.
    docs = _load(spark, sf, "documents")             .filter(F.col("text").isNotNull())
    n_docs = docs.count()
    tok = docs.select("doc_id",
                      F.explode(txf.tokens(F.col("text")))
                      .alias("w"))
    per = tok.groupBy("w", "doc_id").agg(
        F.count(F.lit(1)).alias("c"))
    stats = per.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"))
    nd = F.lit(float(n_docs))
    mean = F.col("sc") / nd
    var = F.col("scc") / nd - mean * mean
    return (stats
            .select("w", "df",
                    F.round(var / mean, 6).alias("fano"))
            .orderBy(F.desc("df"), F.asc("w")).limit(10))


@query(oracle=lambda: f"""
        WITH toks AS (SELECT doc_id AS id, {toks} AS tk
                      FROM documents WHERE text IS NOT NULL),
        sh AS (
          SELECT id, CASE
            WHEN len(tk) >= 3 THEN list_distinct(list_transform(
                   range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
            WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
            ELSE []::VARCHAR[] END AS shs
          FROM toks),
        post AS (SELECT id, unnest(shs) AS g FROM sh),
        first AS (SELECT g, min(id) AS fd FROM post GROUP BY 1)
        SELECT id AS doc_id, count(*) AS n_grams,
               sum((fd = id)::INT)::BIGINT AS n_novel,
               round(sum((fd = id)::INT)::DOUBLE / count(*), 6)
                 AS novelty
        FROM post JOIN first USING (g)
        GROUP BY 1
    """)
def text_ngram_novelty(spark, sf):
    # corpus novelty curve (dedup-adjacent redundancy scoring):
    # per doc, the fraction of its distinct word trigrams FIRST
    # seen in this doc (arrival order = doc_id) — one shingle
    # explode, one min-aggregate over the posting list, exact
    # integer ratios
    docs = _load(spark, sf, "documents")             .filter(F.col("text").isNotNull())
    sh = docs.select(
        "doc_id",
        F.explode(txf.shingles(F.col("text"), 3)).alias("g"))
    first = sh.groupBy("g").agg(F.min("doc_id").alias("fd"))
    return (sh.join(first, "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum((F.col("fd") == F.col("doc_id"))
                       .cast("long")).alias("n_novel"))
            .select("doc_id", "n_grams", "n_novel",
                    F.round(F.col("n_novel").cast("double")
                            / F.col("n_grams"), 6)
                    .alias("novelty")))


@query(oracle=lambda: f"""
        WITH d AS (
          SELECT doc_id,
                 len({_toks_sql('text')})::DOUBLE AS words,
                 greatest(len(regexp_extract_all(text, '[.!?]+')),
                          1)::DOUBLE AS sents,
                 greatest(len(regexp_extract_all(
                            {_norm_sql('text')}, '[aeiou]+')),
                          1)::DOUBLE AS syll
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id, words::BIGINT AS n_words,
               sents::BIGINT AS n_sents, syll::BIGINT AS n_syll,
               round(206.835 - 1.015 * (words / sents)
                     - 84.6 * (syll / words), 6) AS flesch
        FROM d WHERE words > 0
    """)
def text_readability(spark, sf):
    # Flesch-style readability as a quality feature: words from
    # the shared tokenizer, sentences = [.!?] runs in the RAW
    # text (min 1), syllables ≈ vowel groups in the normalized
    # text — every count a codegen'd regexp, the score a pure
    # projection; the classic reading-ease formula
    docs = _load(spark, sf, "documents")             .filter(F.col("text").isNotNull())
    words = txf.token_count(F.col("text")).cast("double")
    sents = F.greatest(
        F.coalesce(F.regexp_count(F.col("text"),
                                  F.lit("[.!?]+")), F.lit(0)),
        F.lit(1)).cast("double")
    syll = F.greatest(
        F.coalesce(F.regexp_count(txf.norm_text(F.col("text")),
                                  F.lit("[aeiou]+")), F.lit(0)),
        F.lit(1)).cast("double")
    score = (F.lit(206.835) - F.lit(1.015) * (words / sents)
             - F.lit(84.6) * (syll / words))
    return (docs.select(
        "doc_id", words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sents"),
        syll.cast("long").alias("n_syll"),
        F.round(score, 6).alias("flesch"))
        .filter(F.col("n_words") > 0))


@query(oracle=lambda: f"""
        WITH first AS (
          SELECT w, min(doc_id) AS fd
          FROM (SELECT doc_id, unnest({toks}) AS w
                FROM documents WHERE text IS NOT NULL)
          GROUP BY 1),
        mx AS (SELECT max(doc_id) AS m FROM documents
               WHERE text IS NOT NULL),
        ck AS (SELECT i, ((i * (m + 1)) // 5)::BIGINT AS cut
               FROM unnest(generate_series(1, 5)) t(i), mx)
        SELECT ck.i AS checkpoint, ck.cut,
               sum((f.fd < ck.cut)::INT)::BIGINT AS vocab
        FROM first f CROSS JOIN ck
        GROUP BY 1, 2
    """)
def text_heaps_curve(spark, sf):
    # Heaps'-law vocabulary growth: distinct-token count over 5
    # doc-id-prefix checkpoints, from each token's FIRST document
    # only (one min-aggregate — the curve never rescans the
    # corpus per checkpoint); integer threshold arithmetic is
    # engine-identical
    docs = _load(spark, sf, "documents")             .filter(F.col("text").isNotNull())
    first = docs.select(
        "doc_id", F.explode(txf.tokens(F.col("text")))
        .alias("w"))             .groupBy("w").agg(F.min("doc_id").alias("fd"))
    mx = docs.agg(F.max("doc_id").alias("m"))
    ck = mx.select(F.explode(F.array(
        *[F.lit(i) for i in range(1, 6)])).alias("i"), "m")             .select("i", ((F.col("i") * (F.col("m") + 1)) / 5)
                .cast("long").alias("cut"))
    return (first.crossJoin(F.broadcast(ck))
            .groupBy("i", "cut")
            .agg(F.sum((F.col("fd") < F.col("cut")).cast("long"))
                 .alias("vocab"))
            .select(F.col("i").alias("checkpoint"), "cut",
                    "vocab"))


@query(oracle=lambda: f"""
        WITH tf AS (
          SELECT w, count(*) AS n
          FROM (SELECT unnest({toks}) AS w
                FROM documents WHERE text IS NOT NULL)
          GROUP BY 1 ORDER BY n DESC, w ASC LIMIT 200),
        xy AS (SELECT ln(row_number() OVER (
                         ORDER BY n DESC, w ASC)::DOUBLE) AS x,
                      ln(n::DOUBLE) AS y
               FROM tf),
        m AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
                     sum(x * x) AS sxx, sum(x * y) AS sxy
              FROM xy)
        SELECT k,
               round((sxy - sx * sy / k::DOUBLE)
                     / (sxx - sx * sx / k::DOUBLE), 6) AS zipf_slope,
               round(sy / k::DOUBLE
                     - ((sxy - sx * sy / k::DOUBLE)
                        / (sxx - sx * sx / k::DOUBLE))
                       * sx / k::DOUBLE, 6) AS intercept
        FROM m
    """)
def text_zipf_fit(spark, sf):
    # corpus-law diagnostic: Zipf exponent via closed-form OLS of
    # ln(freq) on ln(rank) over the top-200 terms — ranks from a
    # top-k sweep (TakeOrderedAndProject, ties on term), the fit
    # from five moment sums; slope ≈ −1 is the Zipf signature
    docs = _load(spark, sf, "documents")             .filter(F.col("text").isNotNull())
    tf = docs.select(F.explode(txf.tokens(F.col("text")))
                     .alias("w"))             .groupBy("w").agg(F.count(F.lit(1)).alias("n"))             .orderBy(F.desc("n"), F.asc("w")).limit(200)
    wr = Window.orderBy(F.desc("n"), F.asc("w"))
    xy = tf.select(
        F.log(F.row_number().over(wr).cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"))
    m = xy.agg(F.count(F.lit(1)).alias("k"),
               F.sum("x").alias("sx"), F.sum("y").alias("sy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"),
               F.sum(F.col("x") * F.col("y")).alias("sxy"))
    kf = F.col("k").cast("double")
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / kf)             / (F.col("sxx") - F.col("sx") * F.col("sx") / kf)
    intercept = F.col("sy") / kf - slope * F.col("sx") / kf
    return m.select("k", F.round(slope, 6).alias("zipf_slope"),
                    F.round(intercept, 6).alias("intercept"))


@query(oracle=lambda: f"""
        WITH tok AS (
          SELECT doc_id, lang, (lang = 'en')::INT AS tgt,
                 ('0x' || substr(md5('dsir:' || w), 1, 15))::BIGINT
                   % 64 AS b
          FROM (SELECT doc_id, lang, unnest({toks}) AS w
                FROM documents WHERE text IS NOT NULL)),
        hist AS (SELECT b, count(*)::BIGINT AS raw_b,
                        sum(tgt)::BIGINT AS tgt_b
                 FROM tok GROUP BY 1),
        tot AS (SELECT sum(raw_b)::BIGINT AS r_tot,
                       sum(tgt_b)::BIGINT AS t_tot FROM hist),
        dim AS (
          SELECT b, ln((tgt_b + 1)::DOUBLE / (t_tot + 64)::DOUBLE)
                  - ln((raw_b + 1)::DOUBLE / (r_tot + 64)::DOUBLE)
                    AS lw
          FROM hist, tot)
        SELECT doc_id, lang, count(*) AS n_tokens,
               round(sum(lw), 6) AS dsir_logw
        FROM tok JOIN dim USING (b)
        GROUP BY 1, 2
        ORDER BY dsir_logw DESC, doc_id ASC LIMIT 50
    """, headline=True)
def select_dsir_weights(spark, sf):
    # DSIR-shaped data selection (Xie et al. 2023): hashed-unigram
    # importance weights log p_target(doc)/p_raw(doc), target =
    # the English slice, features = portable-md5 buckets (same
    # 60-bit hash family as domain_mix_split, so the oracle
    # replays the bucketing bit-for-bit). Two token passes build
    # the two 64-row bucket histograms; per-doc scoring is one
    # broadcast join + partial-agg'd groupBy — no shuffle grows
    # with vocabulary. Top-50 docs by weight, ties on doc_id.
    docs = _load(spark, sf, "documents")
    return dsir_log_weights(
        docs, target_pred=(F.col("lang") == "en"),
        buckets=64, salt="dsir", k=50)


@query(oracle="""
        WITH r AS (
          SELECT user_id, event_id, value,
                 row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY value DESC, event_id ASC) AS rhi,
                 row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY value ASC, event_id ASC) AS rlo
          FROM events)
        SELECT c.user_id, c.event_id AS chosen_id,
               j.event_id AS rejected_id,
               round(c.value - j.value, 6) AS margin
        FROM (SELECT * FROM r WHERE rhi = 1) c
        JOIN (SELECT * FROM r WHERE rlo = 1) j USING (user_id)
        WHERE c.value > j.value
    """)
def rlhf_preference_pairs(spark, sf):
    # preference-pair construction for reward-model training over
    # implicit feedback: per user, (chosen, rejected) = the
    # highest- vs lowest-value event, deterministic ties on
    # event_id, kept only when a strict margin exists. Catalyst
    # pushes the rank filter into WindowGroupLimit on BOTH sides
    # (map-side top-1 per user BEFORE each exchange), so the
    # shuffles move ~n_users rows, not all events, and the final
    # join broadcasts — verified in the executed plan.
    ev = _load(spark, sf, "events")
    w_hi = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id"))
    w_lo = Window.partitionBy("user_id").orderBy(
        F.asc("value"), F.asc("event_id"))
    r = ev.select(
        "user_id", "event_id", "value",
        F.row_number().over(w_hi).alias("rhi"),
        F.row_number().over(w_lo).alias("rlo"))
    chosen = r.filter(F.col("rhi") == 1).select(
        "user_id", F.col("event_id").alias("chosen_id"),
        F.col("value").alias("cv"))
    rejected = r.filter(F.col("rlo") == 1).select(
        "user_id", F.col("event_id").alias("rejected_id"),
        F.col("value").alias("rv"))
    return (chosen.join(rejected, "user_id")
            .filter(F.col("cv") > F.col("rv"))
            .select("user_id", "chosen_id", "rejected_id",
                    F.round(F.col("cv") - F.col("rv"), 6)
                    .alias("margin")))


@query(oracle=lambda: f"""
        WITH tok AS (
          SELECT doc_id, lang, unnest({toks}) AS w
          FROM documents WHERE text IS NOT NULL),
        uc AS (SELECT w, count(*) AS c_w FROM tok GROUP BY 1),
        tot AS (SELECT sum(c_w)::BIGINT AS n_tok,
                       count(*)::BIGINT AS vocab FROM uc),
        scored AS (
          SELECT doc_id, lang,
                 round(sum(ln((c_w + 1)::DOUBLE
                              / (n_tok + vocab)::DOUBLE))
                       / count(*), 6) AS mean_logp
          FROM tok JOIN uc USING (w), tot
          GROUP BY doc_id, lang),
        bkt AS (
          SELECT lang, mean_logp,
                 ntile(3) OVER (PARTITION BY lang
                                ORDER BY mean_logp DESC, doc_id ASC)
                   AS ppl_bucket
          FROM scored)
        SELECT lang, ppl_bucket, count(*) AS n_docs,
               round(avg(mean_logp), 6) AS avg_logp
        FROM bkt GROUP BY 1, 2
    """)
def text_ppl_buckets(spark, sf):
    # CCNet-style head/middle/tail corpus split: per-language
    # ntile(3) over the unigram-LM doc score (high mean_logp =
    # low perplexity = head). Scores are rounded BEFORE ranking
    # and ties break on doc_id, so the bucket assignment is
    # engine-portable; the oracle replays the LM, the ntile, and
    # the per-bucket rollup.
    docs = _load(spark, sf, "documents") \
        .filter(F.col("text").isNotNull())
    tok = docs.select("doc_id", "lang",
                      F.explode(txf.tokens(F.col("text")))
                      .alias("w"))
    uc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    totals = uc.agg(F.sum("c_w").alias("n_tok"),
                    F.count(F.lit(1)).alias("vocab"))
    logp = F.log((F.col("c_w") + 1).cast("double")
                 / (F.col("n_tok") + F.col("vocab")).cast("double"))
    scored = (tok.join(uc, "w").crossJoin(F.broadcast(totals))
              .groupBy("doc_id", "lang")
              .agg(F.round(F.sum(logp) / F.count(F.lit(1)), 6)
                   .alias("mean_logp")))
    wb = Window.partitionBy("lang").orderBy(
        F.desc("mean_logp"), F.asc("doc_id"))
    return (scored.select("lang", "mean_logp",
                          F.ntile(3).over(wb).alias("ppl_bucket"))
            .groupBy("lang", "ppl_bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("mean_logp"), 6).alias("avg_logp")))
