"""Deduplication and entity-resolution queries: exact, n-gram, MinHash and
SimHash near-duplicates, clusters, blocking and record linkage."""

from __future__ import annotations

from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.operators import dedup as dd
from fashion_knowledge_graph_spark.operators.clustering import (
    dbscan_from_pairs,
)
from fashion_knowledge_graph_spark.operators.dedup import (
    jaccard_pairs_exact, minhash_lane_params,
)
from fashion_knowledge_graph_spark.operators.er import (
    blocking_metrics, fs_em_step, fs_score, fuzzy_join, fuzzy_top1,
    qgram_explode, snm_pairs, stop_grams,
)
from fashion_knowledge_graph_spark.registry import query, sql_of
from fashion_knowledge_graph_spark.registry.common import (
    _docs_split, _load, _norm_sql, km_assign, km_update, toks,
)


# word-3-gram shingles in DuckDB; short docs → whole-doc shingle
shingle_cte = f"""
        toks AS (SELECT doc_id AS id, {toks} AS tk FROM documents),
        sh AS (
          SELECT id, CASE
            WHEN len(tk) >= 3 THEN list_distinct(list_transform(
                   range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
            WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
            ELSE []::VARCHAR[] END AS shs
          FROM toks),
        post AS (SELECT id, unnest(shs) AS s FROM sh),
        sizes AS (SELECT id, count(*) AS sz FROM post GROUP BY 1),
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
          FROM post a JOIN post b ON a.s = b.s AND a.id < b.id
          GROUP BY 1, 2)
    """

_g10 = " || ' ' || ".join(f"tk[i+{j}]" for j in range(10))

# MinHash+LSH, fully replayed in DuckDB: the portable lane family
# (universal hash mod 2^31-1 over the 30-bit halves of the md5-
# derived shingle hash — overflow-free BIGINT arithmetic in both
# engines) reproduces the exact candidate set, not just the
# verified output (operators/dedup.py::_lane_exprs).
lane_rows = ", ".join(f"({j}, {a}, {b}, {c})" for j, (a, b, c)
                      in enumerate(minhash_lane_params(128)))
minhash_ctes = f"""{shingle_cte},
        posth AS (
          SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS shn
          FROM post),
        params(j, a, b, c) AS (VALUES {lane_rows}),
        lanes AS (
          SELECT id, p.j,
                 min((p.a * (shn & 1073741823) + p.b * (shn >> 30) + p.c)
                     % 2147483647) AS hv
          FROM posth CROSS JOIN params p GROUP BY id, p.j),
        bands AS (
          SELECT id, (j // 4)::INT AS band,
                 md5(string_agg(hv::VARCHAR, '|' ORDER BY j)) AS bkey
          FROM lanes GROUP BY id, j // 4),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)"""


def _er_dirty_mentions(spark, sf):
    # deterministic dirty mention synthesis shared by the er_*
    # queries: md5-chosen single-char deletion over brand+name on
    # ~40% of part rows → (mention_id, mention_text)
    part = _load(spark, sf, "part")
    fullname = F.concat(F.col("p_brand"), F.lit(" "),
                        F.col("p_name"))
    h = F.conv(F.substring(F.md5(F.concat(
        F.lit("er:"), F.col("p_partkey").cast("string"))),
        1, 15), 16, 10).cast("long")
    men = part.select(
        F.col("p_partkey").alias("mention_id"),
        fullname.alias("fullname"), h.alias("h"))
    pos = (F.col("h") % (F.length("fullname") - F.lit(1))
           + F.lit(2))
    return men.select(
        "mention_id",
        F.when(F.col("h") % 10 < 4,
               F.concat(
                   F.substr(F.col("fullname"), F.lit(1),
                            pos - 1),
                   F.substr(F.col("fullname"), pos + 1,
                            F.length("fullname"))))
        .otherwise(F.col("fullname")).alias("mention_text"))


@query(oracle=lambda: f"""
        SELECT md5({_norm_sql('text')}) AS fingerprint,
               min(doc_id) AS keep_id, count(*) AS n_dups
        FROM documents GROUP BY 1
    """, headline=True)
def dedup_exact(spark, sf):
    return dd.exact_dedup(_docs_split(spark, sf))


@query(oracle=lambda: f"""
        WITH {shingle_cte}
        SELECT id_a, id_b,
               round(inter / (sa.sz + sb.sz - inter)::DOUBLE, 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = inter.id_a
        JOIN sizes sb ON sb.id = inter.id_b
        WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.35
    """, headline=True)
def dedup_ngram_jaccard(spark, sf):
    out = dd.jaccard_pairs_exact(_docs_split(spark, sf),
                                 threshold=0.35)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


@query(oracle=lambda: sql_of("dedup_ngram_jaccard"), headline=True)
def dedup_jaccard_prefix(spark, sf):
    # PPJoin-style prefix filtering: identical output to
    # dedup_ngram_jaccard (same brute-force oracle) from a
    # candidate set pruned by indexing only each doc's rarest
    # |d|-ceil(t|d|)+1 shingles (operators/dedup.py)
    out = dd.jaccard_pairs_prefix(_docs_split(spark, sf),
                                  threshold=0.35)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


@query(oracle=lambda: f"""
        WITH tk10 AS (SELECT doc_id AS id, {toks} AS tk
                      FROM documents),
        sh10 AS (
          SELECT id, CASE
            WHEN len(tk) >= 10 THEN list_distinct(list_transform(
                   range(1, len(tk) - 8), i -> {_g10}))
            WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
            ELSE []::VARCHAR[] END AS shs
          FROM tk10),
        p10 AS (SELECT id, unnest(shs) AS s FROM sh10),
        wdf AS (SELECT s, count(DISTINCT id) AS w_docs
                FROM p10 GROUP BY 1)
        SELECT id, count(*) AS n_windows,
               sum(CASE WHEN w_docs >= 2 THEN 1 ELSE 0 END)::BIGINT
                 AS n_dup_windows,
               round(sum(CASE WHEN w_docs >= 2 THEN 1 ELSE 0 END)
                     / count(*)::DOUBLE, 6) AS dup_frac
        FROM p10 JOIN wdf USING (s) GROUP BY 1
    """)
def dedup_dup_spans(spark, sf):
    # window-granular substring-duplication stats: 10-token
    # windows appearing in >=2 docs flagged per doc
    # (operators/dedup.py::duplicated_span_stats)
    return dd.duplicated_span_stats(_docs_split(spark, sf),
                                    n=10, min_docs=2)


@query(oracle=lambda: f"""
        WITH {minhash_ctes}
        SELECT i.id_a, i.id_b,
               round(inter / (sa.sz + sb.sz - inter)::DOUBLE, 6) AS jaccard
        FROM inter i
        JOIN cand USING (id_a, id_b)
        JOIN sizes sa ON sa.id = i.id_a
        JOIN sizes sb ON sb.id = i.id_b
        WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.35
    """, headline=True)
def dedup_minhash_lsh(spark, sf):
    out = dd.minhash_lsh_pairs(_docs_split(spark, sf),
                               threshold=0.35, num_hashes=128, bands=32)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


# the incremental (seed + fold-in) run must equal from-scratch —
# same replay as dedup_minhash_lsh
@query(oracle=lambda: sql_of("dedup_minhash_lsh"))
def dedup_minhash_incremental(spark, sf):
    # continuous-crawl maintenance path: duplicate pairs for a
    # grown corpus = committed pairs (seeded from ~70% of docs) ∪
    # pairs incident to the new docs via the probe-restricted band
    # join (dedup.minhash_lsh_pairs_incremental). Signatures are
    # per-doc deterministic, so the union EXACTLY equals the
    # from-scratch run the oracle replays over the full corpus.
    docs = _docs_split(spark, sf)
    seed = docs.filter(
        F.crc32(F.col("doc_id").cast("string")) % 10 < 7)
    new = docs.filter(
        F.crc32(F.col("doc_id").cast("string")) % 10 >= 7)
    kw = dict(threshold=0.35, num_hashes=128, bands=32)
    old_pairs = dd.minhash_lsh_pairs(seed, **kw)
    out = dd.minhash_lsh_pairs_incremental(docs, new, old_pairs,
                                           **kw)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


@query(oracle=lambda: f"""
        WITH {minhash_ctes},
        ver AS (SELECT i.id_a, i.id_b,
                       inter / (sa.sz + sb.sz - inter)::DOUBLE AS jac
                FROM inter i
                JOIN cand USING (id_a, id_b)
                JOIN sizes sa ON sa.id = i.id_a
                JOIN sizes sb ON sb.id = i.id_b
                WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE
                      >= 0.35),
        est AS (SELECT v.id_a, v.id_b,
                       sum((la.hv = lb.hv)::INT)::DOUBLE / 128 AS mh
                FROM ver v
                JOIN lanes la ON la.id = v.id_a
                JOIN lanes lb ON lb.id = v.id_b AND la.j = lb.j
                GROUP BY 1, 2)
        SELECT e.id_a, e.id_b, round(v.jac, 6) AS jaccard,
               round(e.mh, 6) AS mh_est,
               round(round(e.mh, 6) - round(v.jac, 6), 6) AS err
        FROM est e JOIN ver v USING (id_a, id_b)
    """)
def dedup_minhash_estimate(spark, sf):
    # sketch-accuracy datasheet for the dedup path: per verified
    # duplicate pair, the MinHash lane-agreement ESTIMATE of
    # Jaccard next to the exact value and the signed error — both
    # exact rationals (k/128 and integer set ratios), so the hash
    # check is bit-for-bit. The lane compare is a 128-element
    # array fold per PAIR (pairs are few; the corpus-sized work
    # stayed in the Arrow signature kernel).
    docs = _docs_split(spark, sf)
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.35,
                                 num_hashes=128, bands=32)
    sig = dd.minhash_signature(docs, "doc_id", "text",
                               n=3, num_hashes=128)
    sa = sig.select(F.col("id").alias("id_a"),
                    F.col("sig").alias("siga"))
    sb = sig.select(F.col("id").alias("id_b"),
                    F.col("sig").alias("sigb"))
    j = pairs.join(sa, "id_a").join(sb, "id_b")
    # 128.0 would parse as a DECIMAL literal in the SQL string
    # (int/decimal -> decimal, breaking double parity) — cast
    mh = F.expr("aggregate(zip_with(siga, sigb, "
                "(x, y) -> if(x = y, 1, 0)), 0, "
                "(a, x) -> a + x) / cast(128 as double)")
    # err from the ROUNDED operands: the exact-jaccard verify
    # differs between engines below 1e-6 (different but equivalent
    # expression trees), so the difference must not resurface it
    return j.select(
        "id_a", "id_b",
        F.round("jaccard", 6).alias("jaccard"),
        F.round(mh, 6).alias("mh_est"),
        F.round(F.round(mh, 6) - F.round("jaccard", 6), 6)
        .alias("err"))


# SimHash, bit-exact replay: token hash = first 16 hex chars of
# md5 read MSB-first; per-bit ±1 sums over the token multiset;
# 4×16-bit banded candidates; hamming over the bit strings.
@query(oracle=lambda: f"""
        WITH tok AS (
          SELECT doc_id AS id, unnest({toks}) AS t FROM documents),
        th AS (SELECT id, substr(md5(t), 1, 16) AS hx FROM tok),
        bits AS (
          SELECT id, j,
                 sum(CASE WHEN (('0x' || substr(hx, (j // 4)::INT + 1, 1))::INT
                                & (1 << (3 - (j % 4)::INT))) <> 0
                          THEN 1 ELSE -1 END) AS cnt
          FROM th CROSS JOIN range(64) r(j) GROUP BY id, j),
        bs AS (
          SELECT id, string_agg(CASE WHEN cnt > 0 THEN '1' ELSE '0' END,
                                '' ORDER BY j) AS bstr
          FROM bits GROUP BY id),
        sbands AS (
          SELECT id, b, substr(bstr, (b * 16)::INT + 1, 16) AS bkey
          FROM bs CROSS JOIN range(4) q(b)),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM sbands a JOIN sbands b
            ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id)
        SELECT * FROM (
          SELECT c.id_a, c.id_b,
                 len(list_filter(range(1, 65),
                     i -> substr(x.bstr, i::INT, 1) <> substr(y.bstr, i::INT, 1)))
                   AS hamming
          FROM cand c
          JOIN bs x ON x.id = c.id_a
          JOIN bs y ON y.id = c.id_b) t
        WHERE hamming <= 8
    """,
       headline=True)
def dedup_simhash(spark, sf):
    return dd.simhash_pairs(_docs_split(spark, sf), max_hamming=8)


# LSH pairs → transitive closure → min-id survivor per duplicate
# group (operators/dedup.py::dedup_keep + components.py CC). The
# recursive reach CTE mirrors the kg_canonical oracle's closure.
@query(oracle=lambda: f"""
        WITH RECURSIVE {minhash_ctes},
        dup AS (
          SELECT i.id_a, i.id_b
          FROM inter i
          JOIN cand USING (id_a, id_b)
          JOIN sizes sa ON sa.id = i.id_a
          JOIN sizes sb ON sb.id = i.id_b
          WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.35),
        dsym AS (
          SELECT id_a AS src, id_b AS dst FROM dup
          UNION
          SELECT id_b AS src, id_a AS dst FROM dup),
        reach(id, r) AS (
          SELECT doc_id AS id, doc_id AS r FROM documents
          UNION
          SELECT s.dst AS id, reach.r
          FROM reach JOIN dsym s ON s.src = reach.id)
        SELECT id AS doc_id, min(r) AS keep_id FROM reach GROUP BY id
    """)
def dedup_clusters(spark, sf):
    # End-to-end dedup resolution: LSH candidate pairs → verified
    # duplicate pairs → connected components → canonical survivor
    # (min doc_id) per duplicate group; singletons keep themselves.
    # The 100 TB path is the distributed min-label propagation
    # inside dedup_keep (components.py); the oracle replays the
    # whole chain — candidate set, verify, transitive closure — in
    # SQL (recursive CTE).
    docs = _docs_split(spark, sf)
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.35,
                                 num_hashes=128, bands=32)
    return dd.dedup_keep(docs, pairs)


@query(oracle="""
        -- DOUBLE[] cast: DuckDB's float32 cosine diverges from Spark's
        -- double accumulation in the 6th decimal otherwise
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6)
                 AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) >= 0.3
    """, headline=True)
def embedding_near_dup(spark, sf):
    # auto-dispatch: exact matmul at this scale (oracle config);
    # corpora over the budget switch to the LSH-blocked path
    out = dd.embedding_near_dup_auto(_load(spark, sf, "embeddings"),
                                     threshold=0.3)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@query(oracle="""
        WITH RECURSIVE ep AS (
          SELECT a.vec_id AS x, b.vec_id AS y
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < b.vec_id
           AND list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]) >= 0.3),
        sym AS (SELECT x, y FROM ep
                UNION SELECT y AS x, x AS y FROM ep),
        deg AS (SELECT x, count(*) AS n_nb FROM sym GROUP BY 1),
        core AS (SELECT x AS node FROM deg WHERE n_nb >= 3),
        ce AS (SELECT s.x, s.y FROM sym s
               WHERE s.x IN (SELECT node FROM core)
                 AND s.y IN (SELECT node FROM core)),
        reach(id, r) AS (
          SELECT node, node FROM core
          UNION
          SELECT e.y, reach.r FROM reach JOIN ce e ON e.x = reach.id),
        cc AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        border AS (
          SELECT s.x AS id, min(s.y) AS nb_core
          FROM sym s
          WHERE s.y IN (SELECT node FROM core)
            AND s.x NOT IN (SELECT node FROM core)
          GROUP BY 1)
        SELECT id AS vec_id, cluster, 'core' AS role FROM cc
        UNION ALL
        SELECT b.id AS vec_id, c.cluster, 'border' AS role
        FROM border b JOIN cc c ON c.id = b.nb_core
    """)
def cluster_dbscan(spark, sf):
    # density clustering over the embedding corpus: ε-neighbor
    # pairs from the exact cosine path (the oracle config — the
    # LSH-blocked or ANN candidate path drops in unchanged at
    # scale), then DBSCAN semantics in pure relational ops: core
    # = ≥3 neighbors, clusters = CC over core–core pairs, border
    # → min core neighbor's cluster, noise absent
    # (operators/clustering.py::dbscan_from_pairs)
    pairs = dd.embedding_near_dup_auto(
        _load(spark, sf, "embeddings"), threshold=0.3) \
        .select("id_a", "id_b")
    return dbscan_from_pairs(pairs, min_pts=3,
                             id_col="vec_id",
                             src="id_a", dst="id_b")


# SemDeDup: the SAME 2-iteration Lloyd replay as kmeans_clusters
# yields the blocking assignment; pairs are brute-forced within
# clusters only (cosine math identical to embedding_near_dup)
@query(oracle=lambda: ("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, v
               FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),"""
    + km_assign.format(K=0, P=0) + ","
    + km_update.format(K=1, P=0) + ","
    + km_assign.format(K=1, P=1) + ","
    + km_update.format(K=2, P=1) + """,
        asg AS (
          SELECT e.vec_id, c.cid AS cluster
          FROM e CROSS JOIN c2 c
          QUALIFY row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_distance(e.v, c.v) ASC, c.cid ASC) = 1)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
        FROM asg a JOIN asg b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE list_cosine_similarity(ea.v, eb.v) >= 0.3
    """))
def semdedup_pairs(spark, sf):
    # SemDeDup: k-means-blocked semantic near-dup — the oracle
    # replays the 2-iteration Lloyd assignment (same CTEs as
    # kmeans_clusters) and brute-forces pairs within clusters
    out = dd.semantic_dedup(_load(spark, sf, "embeddings"),
                            k=8, iterations=2, threshold=0.3)
    return out.select("id_a", "id_b",
                      F.round("cosine", 6).alias("cosine"))


# cluster-size datasheet: wraps the full dedup_clusters replay
@query(oracle=lambda: (
    "WITH base AS (" + sql_of("dedup_clusters") + "),\n"
    "sizes AS (SELECT keep_id, count(*) AS cluster_size\n"
    "          FROM base GROUP BY 1)\n"
    "SELECT cluster_size,\n"
    "       CAST(count(*) AS BIGINT) AS n_clusters,\n"
    "       CAST(sum(cluster_size) AS BIGINT) AS n_docs\n"
    "FROM sizes GROUP BY 1"))
def dedup_cluster_stats(spark, sf):
    # corpus datasheet: duplicate-cluster size distribution +
    # retention after survivor resolution — the governance number
    # a 10^12-doc dedup run reports; pure composition over the
    # dedup_clusters resolution (min-survivor per group)
    base = dedup_clusters(spark, sf)
    sizes = base.groupBy("keep_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 F.sum("cluster_size").alias("n_docs")))


# threshold sweep: same brute-force pairs, banded counts
@query(oracle=lambda: f"""
        WITH {shingle_cte},
        sc AS (SELECT inter / (sa.sz + sb.sz - inter)::DOUBLE AS j
               FROM inter
               JOIN sizes sa ON sa.id = inter.id_a
               JOIN sizes sb ON sb.id = inter.id_b
               WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.35)
        SELECT CASE WHEN j >= 0.9 THEN '0.90+'
                    WHEN j >= 0.7 THEN '0.70-0.90'
                    WHEN j >= 0.5 THEN '0.50-0.70'
                    ELSE '0.35-0.50' END AS band,
               count(*) AS n_pairs
        FROM sc GROUP BY 1
    """)
def dedup_threshold_sweep(spark, sf):
    # threshold-sensitivity datasheet: near-dup pair counts per
    # similarity band from ONE inverted-index pass — the tuning
    # artifact that answers "what does raising the dedup
    # threshold to 0.7 actually drop" without re-running the join
    # per candidate threshold
    out = dd.jaccard_pairs_exact(_docs_split(spark, sf),
                                 threshold=0.35)
    band = (F.when(F.col("jaccard") >= 0.9, "0.90+")
            .when(F.col("jaccard") >= 0.7, "0.70-0.90")
            .when(F.col("jaccard") >= 0.5, "0.50-0.70")
            .otherwise("0.35-0.50"))
    return out.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_pairs"))


@query(oracle="""
        WITH cat AS (SELECT DISTINCT p_brand || ' ' || p_name
                       AS cat_name FROM part),
        men AS (
          SELECT p_partkey AS mention_id,
                 p_brand || ' ' || p_name AS fullname,
                 ('0x' || substr(md5('er:' ||
                    CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM part),
        men2 AS (
          SELECT mention_id,
                 CASE WHEN h % 10 < 4 THEN
                   substr(fullname, 1,
                          ((h % (length(fullname)-1)) + 2) - 1) ||
                   substr(fullname,
                          ((h % (length(fullname)-1)) + 2) + 1)
                 ELSE fullname END AS mention_text
          FROM men),
        lg AS (SELECT mention_id,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(mention_text)-2,1)+1),
                        i -> substr(mention_text, i, 3)))) AS gram
               FROM men2),
        rg AS (SELECT cat_name,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(cat_name)-2,1)+1),
                        i -> substr(cat_name, i, 3)))) AS gram
               FROM cat),
        stops AS (SELECT gram FROM rg GROUP BY 1
                  HAVING count(*) > 100),
        lg2 AS (SELECT * FROM lg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        rg2 AS (SELECT * FROM rg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        pairs AS (SELECT DISTINCT mention_id, cat_name
                  FROM lg2 JOIN rg2 USING (gram)),
        scored AS (
          SELECT p.mention_id, m.mention_text, p.cat_name,
                 levenshtein(m.mention_text, p.cat_name) AS distance
          FROM pairs p JOIN men2 m USING (mention_id)
          WHERE levenshtein(m.mention_text, p.cat_name) <= 2)
        SELECT mention_id, mention_text, cat_name, distance
        FROM (SELECT *, row_number() OVER (
                PARTITION BY mention_id
                ORDER BY distance, cat_name) AS rn FROM scored) t
        WHERE rn = 1
    """)
def er_fuzzy_link(spark, sf):
    # Surface-form entity resolution (the embedding-free linking
    # path): deterministic dirty mentions resolved against the
    # distinct catalog via positional 3-gram blocking with
    # stop-gram pruning (catalog gram df > 100 dropped from BOTH
    # sides — the brand-prefix grams shared by every name) then
    # Levenshtein ≤ 2 verify and deterministic top-1
    # (operators/er.py — Gravano et al. q-gram join; candidate
    # fan-out 165k vs the 2.26M unblocked cross product at
    # sf0.01, 13.7× pruning)
    part = _load(spark, sf, "part")
    men2 = _er_dirty_mentions(spark, sf)
    cat = (part.select(F.concat(F.col("p_brand"), F.lit(" "),
                                F.col("p_name")).alias("cat_name"))
           .distinct()
           .withColumn("cat_id", F.md5(F.col("cat_name"))))
    top1 = fuzzy_top1(men2, cat, "mention_id", "mention_text",
                      "cat_id", "cat_name",
                      q=3, max_distance=2, max_gram_df=100)
    return top1.select("mention_id", "mention_text", "cat_name",
                       "distance")


@query(oracle="""
        WITH men AS (
          SELECT p_partkey AS mention_id,
                 p_brand || ' ' || p_name AS fullname,
                 ('0x' || substr(md5('er:' ||
                    CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM part),
        men2 AS (
          SELECT mention_id,
                 CASE WHEN h % 10 < 4 THEN
                   substr(fullname, 1,
                          ((h % (length(fullname)-1)) + 2) - 1) ||
                   substr(fullname,
                          ((h % (length(fullname)-1)) + 2) + 1)
                 ELSE fullname END AS mention_text
          FROM men),
        ranked AS (
          SELECT mention_id AS id, mention_text AS key,
                 row_number() OVER (ORDER BY mention_text,
                                    mention_id) AS rn
          FROM men2 WHERE mention_text IS NOT NULL),
        offs AS (SELECT unnest([1, 2, 3, 4]) AS d),
        a AS (SELECT id AS id_a, key AS key_a, rn + d AS rn_b
              FROM ranked, offs),
        p AS (SELECT a.id_a, b.id AS id_b, a.key_a, b.key AS key_b
              FROM a JOIN ranked b ON b.rn = a.rn_b)
        SELECT id_a, id_b,
               CAST(levenshtein(key_a, key_b) AS INT) AS distance
        FROM p WHERE levenshtein(key_a, key_b) <= 2
    """)
def er_snm_link(spark, sf):
    # sorted-neighborhood blocking over the dirty mentions (the
    # OTHER canonical ER candidate generator next to er_fuzzy_link's
    # q-gram blocking): ONE range-sort rank, exploded-offset
    # EQUI-join panes (no theta join), Levenshtein ≤ 2 verify —
    # candidates bounded at n·(w−1)/2 regardless of key skew
    # (operators/er.py::snm_pairs)
    men = _er_dirty_mentions(spark, sf)
    return snm_pairs(men, "mention_id", "mention_text",
                     window=5, max_distance=2) \
        .select("id_a", "id_b", "distance")


# generic key-blocking datasheet: truth = same brute-force
# Jaccard pairs; candidates counted from (lang, source) block sizes
@query(oracle=lambda: f"""
        WITH {shingle_cte},
        truth AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.id = inter.id_a
          JOIN sizes sb ON sb.id = inter.id_b
          WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.35),
        keyed AS (SELECT doc_id, lang, source FROM documents
                  WHERE lang IS NOT NULL AND source IS NOT NULL),
        bs AS (SELECT lang, source, count(*) AS nb FROM keyed
               GROUP BY 1, 2),
        c AS (SELECT CAST(coalesce(sum(nb * (nb - 1) / 2), 0) AS BIGINT)
                       AS n_candidates,
                     CAST(coalesce(sum(nb), 0) AS BIGINT) AS n_docs
              FROM bs),
        m AS (SELECT count(*) AS n_matched FROM truth t
              JOIN keyed a ON a.doc_id = t.id_a
              JOIN keyed b ON b.doc_id = t.id_b
               AND a.lang = b.lang AND a.source = b.source),
        tt AS (SELECT count(*) AS n_true FROM truth)
        SELECT n_docs, n_true, n_candidates, n_matched,
               round(CASE WHEN n_true > 0
                          THEN n_matched / n_true::DOUBLE
                          ELSE 1.0 END, 6) AS pairs_completeness,
               round(1.0 - n_candidates
                     / (n_docs * (n_docs - 1) / 2.0), 6)
                 AS reduction_ratio
        FROM c, m, tt
    """)
def er_key_blocking_metrics(spark, sf):
    # Generic KEY-blocking datasheet (operators/er.py::
    # blocking_metrics) — the dedup-shaped twin of
    # er_blocking_eval's q-gram numbers: block documents on
    # (lang, source), ground truth = exact 3-gram Jaccard ≥ 0.35
    # pairs. Candidate counts come from block SIZES (Σ n·(n−1)/2,
    # one groupBy — the candidate set itself is never
    # materialized, the only shape that counts a usable blocker
    # at 10^12 docs); matched counts from joining the truth pairs
    # (label-sized) to the per-doc keys
    docs = _load(spark, sf, "documents")
    truth = jaccard_pairs_exact(docs, threshold=0.35) \
        .select("id_a", "id_b")
    return blocking_metrics(docs, truth, ["lang", "source"])


@query(oracle="""
        WITH cat AS (SELECT DISTINCT p_brand || ' ' || p_name
                       AS cat_name FROM part),
        men AS (
          SELECT p_partkey AS mention_id,
                 p_brand || ' ' || p_name AS fullname,
                 ('0x' || substr(md5('er:' ||
                    CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM part),
        men2 AS (
          SELECT mention_id,
                 CASE WHEN h % 10 < 4 THEN
                   substr(fullname, 1,
                          ((h % (length(fullname)-1)) + 2) - 1) ||
                   substr(fullname,
                          ((h % (length(fullname)-1)) + 2) + 1)
                 ELSE fullname END AS mention_text
          FROM men),
        lg AS (SELECT mention_id,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(mention_text)-2,1)+1),
                        i -> substr(mention_text, i, 3)))) AS gram
               FROM men2),
        rg AS (SELECT cat_name,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(cat_name)-2,1)+1),
                        i -> substr(cat_name, i, 3)))) AS gram
               FROM cat),
        stops AS (SELECT gram FROM rg GROUP BY 1
                  HAVING count(*) > 100),
        lg2 AS (SELECT * FROM lg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        rg2 AS (SELECT * FROM rg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        cand AS (SELECT DISTINCT mention_id, cat_name
                 FROM lg2 JOIN rg2 USING (gram)),
        truth AS (SELECT mention_id, fullname AS cat_name FROM men),
        m AS (SELECT
                (SELECT count(*) FROM men2) AS n_m,
                (SELECT count(*) FROM cat) AS n_c,
                (SELECT count(*) FROM cand) AS n_cand,
                (SELECT count(*) FROM truth t
                 JOIN cand c ON c.mention_id = t.mention_id
                            AND c.cat_name = t.cat_name) AS hits)
        SELECT n_m AS n_mentions, n_c AS n_catalog,
               n_cand AS n_candidates,
               round(1.0 - n_cand / CAST(n_m * n_c AS DOUBLE), 6)
                 AS reduction_ratio,
               round(hits / CAST(n_m AS DOUBLE), 6)
                 AS pairs_completeness
        FROM m
    """)
def er_blocking_eval(spark, sf):
    # blocking-quality datasheet (the record-linkage methodology
    # numbers): q-gram blocking's candidate count, reduction
    # ratio vs the full cross product, and pairs completeness —
    # recall of each mention's KNOWN true catalog entry (its own
    # uncorrupted name) among its candidates. One row; every
    # input an exact integer
    part = _load(spark, sf, "part")
    men = _er_dirty_mentions(spark, sf)
    truth = part.select(
        F.col("p_partkey").alias("mention_id"),
        F.concat(F.col("p_brand"), F.lit(" "),
                 F.col("p_name")).alias("cat_name"))
    cat = truth.select("cat_name").distinct()
    lg = qgram_explode(men, "mention_id", "mention_text", q=3)
    rg = qgram_explode(cat, "cat_name", "cat_name", q=3)
    stops = stop_grams(rg, 100)
    lg = lg.join(F.broadcast(stops), "gram", "left_anti")
    rg = rg.join(F.broadcast(stops), "gram", "left_anti")
    cand = lg.join(rg, "gram") \
        .select("mention_id", "cat_name").distinct() \
        .localCheckpoint(eager=True)
    n_m = men.count()
    n_c = cat.count()
    n_cand = cand.count()
    hits = truth.join(cand, ["mention_id", "cat_name"]).count()
    return spark.createDataFrame(
        [(n_m, n_c, n_cand,
          round(1.0 - n_cand / (n_m * n_c), 6),
          round(hits / n_m, 6))],
        "n_mentions long, n_catalog long, n_candidates long, "
        "reduction_ratio double, pairs_completeness double")


@query(oracle="""
        WITH RECURSIVE men AS (
          SELECT p_partkey AS mention_id,
                 p_brand || ' ' || p_name AS fullname,
                 ('0x' || substr(md5('er:' ||
                    CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM part),
        men2 AS (
          SELECT mention_id,
                 CASE WHEN h % 10 < 4 THEN
                   substr(fullname, 1,
                          ((h % (length(fullname)-1)) + 2) - 1) ||
                   substr(fullname,
                          ((h % (length(fullname)-1)) + 2) + 1)
                 ELSE fullname END AS mention_text
          FROM men),
        mg AS (SELECT mention_id, mention_text,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(mention_text)-2,1)+1),
                        i -> substr(mention_text, i, 3)))) AS gram
               FROM men2),
        stops AS (SELECT gram FROM mg GROUP BY 1
                  HAVING count(*) > 100),
        mg2 AS (SELECT * FROM mg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        e AS (SELECT DISTINCT x.mention_id AS src,
                              y.mention_id AS dst
              FROM mg2 x JOIN mg2 y USING (gram)
              WHERE x.mention_id < y.mention_id
                AND levenshtein(x.mention_text, y.mention_text) <= 1),
        und AS (SELECT src AS a, dst AS b FROM e
                UNION ALL SELECT dst, src FROM e),
        reach AS (
          SELECT mention_id AS id, mention_id AS r FROM men2
          UNION
          SELECT reach.id, und.b FROM reach
          JOIN und ON reach.r = und.a),
        cc AS (SELECT id, min(r) AS cluster_id FROM reach
               GROUP BY 1),
        sizes AS (SELECT cluster_id, count(*) AS n_members
                  FROM cc GROUP BY 1)
        SELECT id AS mention_id, cluster_id, n_members
        FROM cc JOIN sizes USING (cluster_id)
    """)
def er_clusters(spark, sf):
    # ER canonicalization step 2: transitive closure of the fuzzy
    # pairs — blocked mention↔mention self-join (same q-gram +
    # stop-gram machinery, Levenshtein ≤ 1, a<b dedup) feeds
    # connected components; cluster id = min mention id, with the
    # member count alongside. The surface-form twin of
    # kg_canonical's embedding-based dedup
    # (operators/er.py + operators/components.py). Imported per call:
    # perfbench/tracing.py swaps this function on its module.
    from fashion_knowledge_graph_spark.operators.components import (
        connected_components,
    )
    men2 = _er_dirty_mentions(spark, sf)
    rhs = (men2.select(F.col("mention_id").alias("rid"),
                       F.col("mention_text").alias("rtext")))
    pairs = fuzzy_join(men2, rhs, "mention_id", "mention_text",
                       "rid", "rtext",
                       q=3, max_distance=1, max_gram_df=100)
    edges = (pairs.filter(F.col("mention_id") < F.col("rid"))
             .select(F.col("mention_id").alias("src"),
                     F.col("rid").alias("dst")))
    cc = connected_components(
        edges, men2.select(F.col("mention_id").alias("id")), "id")
    sizes = (cc.groupBy("component")
             .agg(F.count(F.lit(1)).alias("n_members")))
    return (cc.join(sizes, "component")
            .select(F.col("id").alias("mention_id"),
                    F.col("component").alias("cluster_id"),
                    "n_members"))


@query(oracle="""
        WITH cat AS (SELECT DISTINCT p_brand || ' ' || p_name
                       AS cat_name FROM part),
        men AS (
          SELECT p_partkey AS mention_id,
                 p_brand || ' ' || p_name AS fullname,
                 ('0x' || substr(md5('er:' ||
                    CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM part),
        men2 AS (
          SELECT mention_id,
                 CASE WHEN h % 10 < 4 THEN
                   substr(fullname, 1,
                          ((h % (length(fullname)-1)) + 2) - 1) ||
                   substr(fullname,
                          ((h % (length(fullname)-1)) + 2) + 1)
                 ELSE fullname END AS mention_text
          FROM men),
        lg AS (SELECT mention_id,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(mention_text)-2,1)+1),
                        i -> substr(mention_text, i, 3)))) AS gram
               FROM men2),
        rg AS (SELECT cat_name,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(cat_name)-2,1)+1),
                        i -> substr(cat_name, i, 3)))) AS gram
               FROM cat),
        stops AS (SELECT gram FROM rg GROUP BY 1
                  HAVING count(*) > 100),
        lg2 AS (SELECT * FROM lg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        rg2 AS (SELECT * FROM rg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        bpairs AS (SELECT DISTINCT mention_id, cat_name
                   FROM lg2 JOIN rg2 USING (gram)),
        cand AS (
          SELECT p.mention_id, m.mention_text, p.cat_name,
                 levenshtein(m.mention_text, p.cat_name) AS distance
          FROM bpairs p JOIN men2 m USING (mention_id)
          WHERE levenshtein(m.mention_text, p.cat_name) <= 3),
        g AS (SELECT mention_id, mention_text, cat_name,
                (string_split(mention_text, ' ')[1]
                 = string_split(cat_name, ' ')[1])::INT AS g1,
                (distance <= 1)::INT AS g2,
                (len(string_split(mention_text, ' '))
                 = len(string_split(cat_name, ' ')))::INT AS g3
              FROM cand),
        e AS (SELECT *, pm / (pm + pu) AS p FROM (
          SELECT *,
            0.1 * (CASE WHEN g1 = 1 THEN 0.9 ELSE 0.1 END)
                * (CASE WHEN g2 = 1 THEN 0.9 ELSE 0.1 END)
                * (CASE WHEN g3 = 1 THEN 0.9 ELSE 0.1 END) AS pm,
            0.9 * (CASE WHEN g1 = 1 THEN 0.1 ELSE 0.9 END)
                * (CASE WHEN g2 = 1 THEN 0.1 ELSE 0.9 END)
                * (CASE WHEN g3 = 1 THEN 0.1 ELSE 0.9 END) AS pu
          FROM g) z),
        mstep AS (SELECT sum(p) AS sp, count(*) AS n,
                         sum(p * g1) AS spg1,
                         sum((1.0 - p) * g1) AS sqg1,
                         sum(p * g2) AS spg2,
                         sum((1.0 - p) * g2) AS sqg2,
                         sum(p * g3) AS spg3,
                         sum((1.0 - p) * g3) AS sqg3
                  FROM e),
        par AS (SELECT spg1 / sp AS m1, sqg1 / (n - sp) AS u1,
                       spg2 / sp AS m2, sqg2 / (n - sp) AS u2,
                       spg3 / sp AS m3, sqg3 / (n - sp) AS u3
                FROM mstep),
        wts AS (
          SELECT mention_id, mention_text, cat_name,
            (CASE WHEN g1 = 1 THEN ln(m1 / u1) / ln(2.0)
                  ELSE ln((1.0 - m1) / (1.0 - u1)) / ln(2.0) END)
          + (CASE WHEN g2 = 1 THEN ln(m2 / u2) / ln(2.0)
                  ELSE ln((1.0 - m2) / (1.0 - u2)) / ln(2.0) END)
          + (CASE WHEN g3 = 1 THEN ln(m3 / u3) / ln(2.0)
                  ELSE ln((1.0 - m3) / (1.0 - u3)) / ln(2.0) END)
              AS fw
          FROM g, par)
        SELECT mention_id, mention_text, cat_name,
               round(fw, 6) AS fs_weight
        FROM wts
        ORDER BY round(fw, 6) DESC, mention_id ASC, cat_name ASC
        LIMIT 50
    """)
def er_fs_link(spark, sf):
    # probabilistic record linkage (Fellegi–Sunter 1969, Winkler
    # EM): q-gram-blocked candidates compared on 3 binary
    # comparators (brand token, edit distance ≤ 1, token count),
    # ONE EM iteration re-estimates (π, m, u) in a single
    # partial-agg'd pass, pairs scored with the learned log2
    # agreement weights (operators/er.py::fs_em_step/fs_score).
    # The oracle replays blocking, E-step (bit-exact literal
    # products), M-step, and weights as one SQL chain.
    part = _load(spark, sf, "part")
    men2 = _er_dirty_mentions(spark, sf)
    cat = (part.select(F.concat(F.col("p_brand"), F.lit(" "),
                                F.col("p_name")).alias("cat_name"))
           .distinct()
           .withColumn("cat_id", F.md5(F.col("cat_name"))))
    cand = fuzzy_join(men2, cat, "mention_id", "mention_text",
                      "cat_id", "cat_name",
                      q=3, max_distance=3, max_gram_df=100)
    first_tok = lambda c: F.element_at(F.split(F.col(c), " "), 1)
    n_tok = lambda c: F.size(F.split(F.col(c), " "))
    gcols = ["g1", "g2", "g3"]
    pairs = cand.select(
        "mention_id", "mention_text", "cat_name",
        (first_tok("mention_text") == first_tok("cat_name"))
        .cast("int").alias("g1"),
        (F.col("distance") <= 1).cast("int").alias("g2"),
        (n_tok("mention_text") == n_tok("cat_name"))
        .cast("int").alias("g3"))
    params = fs_em_step(pairs, gcols)
    w = fs_score(pairs, params, gcols)
    return (pairs.select("mention_id", "mention_text", "cat_name",
                         F.round(w, 6).alias("fs_weight"))
            .orderBy(F.desc("fs_weight"), F.asc("mention_id"),
                     F.asc("cat_name"))
            .limit(50))
