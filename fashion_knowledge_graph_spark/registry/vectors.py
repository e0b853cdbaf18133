"""Embedding and media queries: ANN search, quantization, projections,
clustering and multimodal media plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.functions.embeddings import cosine_col
from fashion_knowledge_graph_spark.functions.zorder import (
    bucketize, zorder_key,
)
from fashion_knowledge_graph_spark.operators import (
    multimodal as mm, similarity as sim,
)
from fashion_knowledge_graph_spark.operators.clustering import (
    kmeans_assign, pca_project,
)
from fashion_knowledge_graph_spark.operators.quantize import (
    int8_cosine_topk, ivfpq_topk, pq_adc_topk, pq_encode, pq_train,
    quantize_int8,
)
from fashion_knowledge_graph_spark.operators.similarity import ranking_eval
from fashion_knowledge_graph_spark.registry import query, sql_of
from fashion_knowledge_graph_spark.registry.common import (
    _load, km_assign, km_update,
)


# distributed PCA: double-unnest covariance, 3 unrolled
# power-iteration rounds (it0 = uniform 1/√64), per-row
# projection (x−μ)·v
pca_iter = """
        it{K}r AS (SELECT cov.i, sum(cov.c * p.v) AS w
                   FROM cov JOIN it{P} p ON p.i = cov.j GROUP BY 1),
        it{K}n AS (SELECT sqrt(sum(w * w)) AS nrm FROM it{K}r),
        it{K} AS (SELECT i, w / nrm AS v
                  FROM it{K}r CROSS JOIN it{K}n)"""

# product quantization: per-subspace Lloyd replay (the
# kmeans_clusters CTE pattern on list_slice subvectors), encode =
# final assignment, ADC = Σ_sub list_distance(q_sub, centroid)²,
# ranking by ROUNDED distance + id (engine-order reproducible)
pq_sub = """
        es{S} AS (SELECT vec_id, list_slice(v, {LO}, {HI}) AS v
                  FROM e),
        cs{S}0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1
                            AS cid, v
                   FROM (SELECT vec_id, v FROM es{S}
                         ORDER BY vec_id LIMIT 16)),
        as{S}0 AS (SELECT vec_id, cid FROM (
          SELECT e2.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e2.vec_id
                   ORDER BY list_distance(e2.v, c.v) ASC,
                            c.cid ASC) AS rn
          FROM es{S} e2 CROSS JOIN cs{S}0 c) WHERE rn = 1),
        ms{S}1 AS (SELECT a.cid, t.dim, avg(e2.v[t.dim]) AS mv
                   FROM es{S} e2 JOIN as{S}0 a USING (vec_id)
                   CROSS JOIN range(1, 17) t(dim)
                   GROUP BY 1, 2),
        cs{S}1 AS (SELECT c0.cid, coalesce(ml.v, c0.v) AS v
                   FROM cs{S}0 c0 LEFT JOIN (
                     SELECT cid, list(mv ORDER BY dim) AS v
                     FROM ms{S}1 GROUP BY cid) ml USING (cid)),
        code{S} AS (SELECT vec_id, cid FROM (
          SELECT e2.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e2.vec_id
                   ORDER BY list_distance(e2.v, c.v) ASC,
                            c.cid ASC) AS rn
          FROM es{S} e2 CROSS JOIN cs{S}1 c) WHERE rn = 1),
        adc{S} AS (SELECT q.query_id, cd.vec_id,
                          list_distance(list_slice(q.v, {LO}, {HI}),
                                        c.v) ** 2 AS dpart
                   FROM q CROSS JOIN code{S} cd
                   JOIN cs{S}1 c ON c.cid = cd.cid)"""

# z-order key: identical bucket arithmetic (exact BIGINT ops + one
# IEEE double division) + bit interleave rebuilt with SQL shifts
_z_terms = " | ".join(
    f"(((b{i} >> {b}) & 1) << {2 * b + i})"
    for b in range(16) for i in (0, 1))

# multimodal: replay synthesize_media + the pooled-feature kernel
# in closed form (content = md5 hex tiled; feature = col means then
# row means of the (h,w) tiling, first 64, L2-normalized)
mm_media_cte = """
        refs AS (SELECT printf('img://doc%08d', doc_id) AS mid
                 FROM documents WHERE doc_id < 200),
        m AS (SELECT mid,
                (('0x' || substr(md5(mid || ':w'), 1, 15))::BIGINT
                  % 481 + 32)::INT AS w,
                (('0x' || substr(md5(mid || ':h'), 1, 15))::BIGINT
                  % 481 + 32)::INT AS h,
                repeat(md5(mid), 8) AS hx
              FROM refs)
    """

topk_cte = """
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS s
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < {qmax}),
        ranked AS (
          SELECT query_id, corpus_id, s, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY s DESC, corpus_id ASC) AS rank
          FROM scored)
    """


def _mm_media(spark, sf):
    refs = _load(spark, sf, "documents").filter(F.col("doc_id") < 200) \
        .select(F.format_string("img://doc%08d", F.col("doc_id"))
                .alias("media_ref"))
    return mm.synthesize_media(refs)


@query(oracle=lambda: f"""
        WITH {mm_media_cte},
        b AS (SELECT mid, w, h,
                list_transform(range(128),
                  i -> ('0x' || substr(hx, (2*i)::INT + 1, 2))::INT) AS lb
              FROM m),
        pooled AS (SELECT mid,
            list_concat(
              list_transform(range(least(w, 64)), c ->
                list_sum(list_transform(range(h),
                  r -> lb[((r*w + c) % 128)::INT + 1]))::DOUBLE / h),
              CASE WHEN w < 64 THEN
                list_transform(range(64 - w), r ->
                  list_sum(list_transform(range(w),
                    c -> lb[((r*w + c) % 128)::INT + 1]))::DOUBLE / w)
              ELSE []::DOUBLE[] END) AS v
            FROM b),
        normed AS (SELECT mid, v,
                     sqrt(list_sum(list_transform(v, x -> x*x))) AS n
                   FROM pooled)
        SELECT mid AS media_id, j::INT AS idx,
               round(v[(j + 1)::INT] / n, 6) AS value
        FROM normed CROSS JOIN range(64) t(j)
    """)
def mm_feature_extract(spark, sf):
    # multimodal plumbing: synthesize media from doc ids, extract
    # deterministic pooled features via mapInPandas, exploded to
    # (media_id, idx, value) scalars — hashable for the driver's
    # canonicalizer (round 1 returned the raw array<float> column
    # and crashed pandas sort_values) and exactly replayable in
    # the DuckDB oracle (closed-form col/row means of the tiled
    # content bytes)
    feats = mm.extract_features(_mm_media(spark, sf))
    return feats.select(
        "media_id", F.posexplode("feature").alias("idx", "value")) \
        .select("media_id", "idx", F.round("value", 6).alias("value"))


@query(oracle=lambda: f"""
        WITH {mm_media_cte}
        SELECT mid AS media_id, w AS width, h AS height,
               128::BIGINT AS n_bytes,
               to_base64(unhex(md5(mid))) AS thumb_b64
        FROM m
    """)
def mm_media_meta(spark, sf):
    # metadata projection + F5 base64 (reference encodes image
    # bytes for the LLM call, attribute_extraction_model.py:28-45);
    # md5(media_id) hex→binary IS content[0:16] by construction
    media = _mm_media(spark, sf)
    return media.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.base64(F.to_binary(F.md5("media_id"), F.lit("hex")))
        .alias("thumb_b64"))


@query(oracle=lambda: f"""
        WITH {mm_media_cte},
        s AS (SELECT mid,
                CASE WHEN substr(md5(mid || ':m'), 1, 1) < '4'
                     THEN 'video/mp4' ELSE 'image/png' END AS mime,
                w, h,
                least(1.0, 256.0 / greatest(w, h)) AS sc
              FROM m)
        SELECT mid AS media_id, mime,
               floor(w * sc + 0.5)::INT AS target_width,
               floor(h * sc + 0.5)::INT AS target_height,
               sc < 1.0 AS needs_resize
        FROM s
    """)
def mm_resize_plan(spark, sf):
    # resize planning over the media metadata struct — pure
    # Catalyst, payload column pruned (only rows with
    # needs_resize enter the decode kernel at runtime)
    plan = mm.resize_meta(_mm_media(spark, sf), max_side=256)
    return plan.select("media_id", "mime", "target_width",
                       "target_height", "needs_resize")


@query(oracle=lambda: f"""
        WITH {mm_media_cte},
        d AS (SELECT mid,
                CASE WHEN substr(md5(mid || ':m'), 1, 1) < '4'
                     THEN (('0x' || substr(md5(mid || ':d'), 1, 15))::BIGINT
                           % 9000 + 500)
                     ELSE 0 END AS dur
              FROM m)
        SELECT mid AS media_id,
               unnest(CASE WHEN dur > 0 THEN range(0, dur, 1000)
                           ELSE [0] END)::INT AS frame_ms
        FROM d
    """)
def mm_frame_plan(spark, sf):
    # video frame-sampling fan-out: sequence+explode on the
    # duration metadata (shuffle-free; one row per frame to
    # decode). The synthesized media table is ~25% video with
    # md5-derived durations, so the plan is non-vacuous.
    return mm.frame_sample_plan(_mm_media(spark, sf), every_ms=1000)


@query(oracle=lambda: f"""
        WITH {mm_media_cte},
        d AS (SELECT mid,
                CASE WHEN substr(md5(mid || ':m'), 1, 1) < '4'
                     THEN (('0x' || substr(md5(mid || ':d'), 1, 15))::BIGINT
                           % 9000 + 500)
                     ELSE 0 END AS dur
              FROM m),
        st AS (SELECT mid, dur,
                      unnest(range(0, dur, 1500))::BIGINT AS start_ms
               FROM d WHERE dur > 0)
        SELECT mid AS media_id,
               CAST(start_ms // 1500 AS INT) AS chunk_idx,
               CAST(start_ms AS INT) AS start_ms,
               CAST(least(start_ms + 2000, dur) AS INT) AS end_ms
        FROM st
    """)
def mm_audio_chunk_plan(spark, sf):
    # overlapping ASR-style windowing over the timed media items
    # (2 s chunks, 0.5 s overlap): sequence+posexplode on
    # duration metadata, shuffle-free; untimed media yield no
    # chunks (operators/multimodal.py::audio_chunk_plan)
    return mm.audio_chunk_plan(_mm_media(spark, sf),
                               chunk_ms=2000, overlap_ms=500)


# int8 quantization: the integer codes re-derived elementwise in
# SQL (identical IEEE double ops + portable floor(x+0.5) rounding
# → checksums compare EXACTLY); float error stats rounded
@query(oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        s AS (SELECT vec_id, v,
                     coalesce(list_max(list_transform(v, x -> abs(x))),
                              0.0) AS scale
              FROM e),
        q AS (SELECT vec_id, v, scale,
                     CASE WHEN scale = 0
                          THEN list_transform(v, x -> CAST(0 AS BIGINT))
                          ELSE list_transform(v, x ->
                            CAST(floor(x * 127.0 / scale + 0.5)
                                 AS BIGINT)) END AS qv
              FROM s),
        err AS (SELECT vec_id, scale, qv,
                       list_transform(range(1, len(v) + 1),
                         i -> abs(qv[i] * scale / 127.0 - v[i])) AS ev,
                       len(v) AS dim
                FROM q)
        SELECT vec_id, round(scale, 6) AS scale,
               coalesce(list_sum(qv), 0)::BIGINT AS q_sum,
               coalesce(list_sum(list_transform(qv, x -> abs(x))),
                        0)::BIGINT AS q_l1,
               round(coalesce(list_max(ev), 0.0), 6) AS max_err,
               round(coalesce(list_sum(
                       list_transform(ev, x -> x * x)), 0.0)
                     / greatest(dim, 1), 8) AS mse
        FROM err
    """, headline=True)
def emb_quantize_int8(spark, sf):
    # int8 symmetric max-abs quantization of the embeddings table
    # (operators/quantize.py): integer codes are replayed EXACTLY
    # by the oracle (portable floor(x+0.5) rounding, checksummed),
    # reconstruction error stats rounded
    emb = _load(spark, sf, "embeddings")
    out = quantize_int8(emb, id_col="vec_id", vec_col="embedding")
    return out.select(
        F.col("id").alias("vec_id"),
        F.round("scale", 6).alias("scale"),
        "q_sum", "q_l1",
        F.round("max_err", 6).alias("max_err"),
        F.round("mse", 8).alias("mse"))


# int8 ANN: same quantization CTE, then EXACT integer dot products
# (BIGINT here, exact small-int float64 einsum in the kernel) —
# scores agree bit-for-bit, ranks need no tolerance
@query(oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        s AS (SELECT vec_id, v,
                     coalesce(list_max(list_transform(v, x -> abs(x))),
                              0.0) AS scale
              FROM e),
        q AS (SELECT vec_id,
                     CASE WHEN scale = 0
                          THEN list_transform(v, x -> CAST(0 AS BIGINT))
                          ELSE list_transform(v, x ->
                            CAST(floor(x * 127.0 / scale + 0.5)
                                 AS BIGINT)) END AS qv
              FROM s),
        qq AS (SELECT vec_id, qv,
                      coalesce(list_sum(list_transform(qv, x -> x * x)),
                               0)::BIGINT AS nrm
               FROM q),
        pairs AS (
          SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
                 coalesce(list_sum(list_transform(
                     range(1, len(a.qv) + 1),
                     i -> a.qv[i] * b.qv[i])), 0)::BIGINT AS dot,
                 a.nrm AS qn, b.nrm AS cn
          FROM qq a JOIN qq b ON a.vec_id <> b.vec_id
          WHERE a.vec_id < 20),
        scored AS (
          SELECT query_id, corpus_id,
                 dot / greatest(sqrt(qn) * sqrt(cn), 1e-300) AS sc
          FROM pairs),
        ranked AS (
          SELECT query_id, corpus_id, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY sc DESC, corpus_id ASC) AS rank
          FROM scored)
        SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 5
    """)
def ann_int8_topk(spark, sf):
    # the quantized search path: quantize the corpus, search over
    # the int8 CODES (cosine is scale-invariant so no dequant);
    # integer dots are exact in both engines, so this oracle is
    # bit-exact with no float-tolerance caveat
    emb = _load(spark, sf, "embeddings")
    qz = quantize_int8(emb).select("id", "qvec")
    q = qz.filter(F.col("id") < 20)
    return int8_cosine_topk(q, qz, k=5) \
        .select("query_id", "corpus_id", "rank")


# int8 fidelity: float top-1 truth left-joined into the int8
# top-10 ranking; same quantization + integer-dot chain as
# ann_int8_topk, same float chain as ann_cosine_topk
@query(oracle=lambda: f"""
        WITH {topk_cte.format(qmax=20)},
        truth AS (SELECT query_id, corpus_id FROM ranked
                  WHERE rank = 1),
        ie AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings),
        isc AS (SELECT vec_id, v,
                       coalesce(list_max(list_transform(
                           v, x -> abs(x))), 0.0) AS scale
                FROM ie),
        iq AS (SELECT vec_id,
                      CASE WHEN scale = 0
                           THEN list_transform(v,
                                  x -> CAST(0 AS BIGINT))
                           ELSE list_transform(v, x ->
                             CAST(floor(x * 127.0 / scale + 0.5)
                                  AS BIGINT)) END AS qv
               FROM isc),
        iqq AS (SELECT vec_id, qv,
                       coalesce(list_sum(list_transform(
                           qv, x -> x * x)), 0)::BIGINT AS nrm
                FROM iq),
        ipairs AS (
          SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
                 coalesce(list_sum(list_transform(
                     range(1, len(a.qv) + 1),
                     i -> a.qv[i] * b.qv[i])), 0)::BIGINT AS dot,
                 a.nrm AS qn, b.nrm AS cn
          FROM iqq a JOIN iqq b ON a.vec_id <> b.vec_id
          WHERE a.vec_id < 20),
        iscored AS (
          SELECT query_id, corpus_id,
                 dot / greatest(sqrt(qn) * sqrt(cn), 1e-300) AS sc
          FROM ipairs),
        iranked AS (
          SELECT query_id, corpus_id, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY sc DESC, corpus_id ASC) AS rank
          FROM iscored),
        j AS (SELECT t.query_id, ir.rank
              FROM truth t
              LEFT JOIN (SELECT * FROM iranked WHERE rank <= 10) ir
                ON ir.query_id = t.query_id
               AND ir.corpus_id = t.corpus_id)
        SELECT count(*)::BIGINT AS n_truth,
               round(avg(CASE WHEN rank IS NOT NULL
                              THEN 1.0 / rank ELSE 0.0 END), 6)
                 AS mrr,
               round(avg(CASE WHEN rank <= 1 THEN 1.0
                              ELSE 0.0 END), 6) AS hits_1,
               round(avg(CASE WHEN rank <= 5 THEN 1.0
                              ELSE 0.0 END), 6) AS hits_5,
               round(avg(CASE WHEN rank <= 10 THEN 1.0
                              ELSE 0.0 END), 6) AS hits_10
        FROM j
    """)
def ann_int8_ranking_eval(spark, sf):
    # Quantization-fidelity datasheet: does the int8 index still
    # retrieve the EXACT float top-1? truth = float-cosine rank-1
    # per query, ranked = int8 top-10; filtered MRR + hits@1/5/10
    # via operators/similarity.py::ranking_eval (one truth-sized
    # join + one aggregate — no windows beyond the rankers' own)
    emb = _load(spark, sf, "embeddings")
    fq = emb.filter(F.col("vec_id") < 20)
    truth = sim.cosine_topk(fq, emb, k=1) \
        .select("query_id", "corpus_id")
    qz = quantize_int8(emb).select("id", "qvec")
    iq = qz.filter(F.col("id") < 20)
    ranked = int8_cosine_topk(iq, qz, k=10)
    return ranking_eval(ranked, truth, ks=(1, 5, 10))


@query(oracle=lambda: f"""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS s
          FROM embeddings q JOIN embeddings c
            ON q.vec_id <> c.vec_id AND q.label <> c.label
          WHERE q.vec_id < 20),
        ranked AS (
          SELECT query_id, corpus_id, s, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY s DESC, corpus_id ASC) AS rank
          FROM scored)
        SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 5
    """, headline=True)
def ann_hard_negatives(spark, sf):
    # contrastive-training data: top-5 most-similar DIFFERENT-label
    # items per query (operators/similarity.py::hard_negatives)
    emb = _load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return sim.hard_negatives(emb, k=5, queries=q) \
        .select("query_id", "corpus_id", "rank")


@query(oracle=lambda: f"""
        WITH bkt AS (
          SELECT event_id,
                 greatest(0, least(65535,
                   CAST(floor((user_id - 0) * 65535 / 2000)
                        AS BIGINT))) AS b0,
                 greatest(0, least(65535,
                   CAST(floor((CAST(floor(value * 100) AS BIGINT) - 0)
                              * 65535 / 100000) AS BIGINT))) AS b1
          FROM events)
        SELECT event_id, {_z_terms} AS zkey FROM bkt
    """)
def zorder_events_key(spark, sf):
    # Morton z-order key over (user_id, value-cents): the
    # clustering key behind multi-column min/max data skipping
    # (functions/zorder.py; zorder_by + SnapshotTable stats
    # pruning is pinned in test_zorder). Pure codegen BIGINT
    # bit-interleave — the oracle rebuilds the key bit-for-bit.
    ev = _load(spark, sf, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    z = zorder_key([bucketize(F.col("user_id"), 0, 2000, 16),
                    bucketize(cents, 0, 100000, 16)], bits=16)
    return ev.select("event_id", z.alias("zkey"))


@query(oracle=lambda: f"""
        WITH {topk_cte.format(qmax=20)}
        SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 5
    """, headline=True)
def ann_cosine_topk(spark, sf):
    emb = _load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return sim.cosine_topk(q, emb, k=5).select(
        "query_id", "corpus_id", "rank")


@query(oracle="""
        WITH p AS (
          SELECT list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]) AS c
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE a.vec_id < 100 AND b.vec_id < 100)
        SELECT count(*) AS n_pairs,
               round(avg(c), 6) AS mean_cos,
               round(stddev_pop(c), 6) AS std_cos,
               round(avg((c > 0.8)::INT::DOUBLE), 6)
                 AS frac_above_08
        FROM p
    """)
def emb_anisotropy(spark, sf):
    # embedding-space health: the pairwise-cosine distribution on
    # a deterministic sample (vec_id < 100 → 4950 pairs) — mean
    # cosine far above 0 is the anisotropy/hubness failure mode
    # that silently wrecks cosine retrieval; moments + a high-sim
    # mass fraction, all from one pair join
    emb = _load(spark, sf, "embeddings").filter(
        F.col("vec_id") < 100)
    a = emb.select(F.col("vec_id").alias("ia"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"),
                   F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("ia") < F.col("ib"))
    c = cosine_col(F.col("va"), F.col("vb"))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(c), 6).alias("mean_cos"),
        F.round(F.stddev_pop(c), 6).alias("std_cos"),
        F.round(F.avg((c > 0.8).cast("double")), 6)
        .alias("frac_above_08"))


# exhaustive sign-LSH (nbits=0 → single bucket) ⇒ exact top-k
@query(oracle=lambda: sql_of("ann_cosine_topk"))
def ann_lsh_topk(spark, sf):
    # Sign-LSH strategy in its exhaustive configuration (nbits=0 →
    # one constant band → every pair is a candidate ⇒ exact top-k),
    # the oracle-checkable config that still exercises the full
    # production code path: signature UDF, banded candidate join,
    # vector re-join by id, Arrow cosine re-rank, top-k window.
    # Partial-bucket recall (the 100 TB config) is pinned in
    # tests/test_similarity.py (recall ≥ 0.9 vs exact).
    emb = _load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return sim.lsh_topk(q, emb, k=5, nbits=0, nbands=1) \
        .select("query_id", "corpus_id", "rank")


@query(oracle=lambda: sql_of("ann_cosine_topk"), headline=True)
def ann_ivf_topk(spark, sf):
    # exhaustive probe ⇒ exact — the oracle-checkable configuration;
    # partial-probe recall is covered in tests/test_similarity.py
    emb = _load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return sim.ivf_topk(q, emb, k=5, ncentroids=8, nprobe=8).select(
        "query_id", "corpus_id", "rank")


@query(oracle=lambda: f"""
        WITH {topk_cte.format(qmax=50)}
        SELECT query_id, corpus_id
        FROM ranked WHERE rank = 1 AND s >= 0.25
    """)
def w5_top1_then_threshold(spark, sf):
    emb = _load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    top1 = sim.cosine_topk(q, emb, k=1)
    return top1.filter(F.col("score") >= 0.25) \
        .select("query_id", "corpus_id")


@query(oracle=lambda: ("""
        WITH el AS (
          SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                 unnest(embedding)::DOUBLE AS x
          FROM embeddings),
        nn AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
        mu AS (SELECT i, sum(x) / nn.n AS mu
               FROM el CROSS JOIN nn GROUP BY i, nn.n),
        cov AS (
          SELECT a.i AS i, b.i AS j,
                 sum(a.x * b.x) / nn.n - ma.mu * mb.mu AS c
          FROM el a JOIN el b USING (vec_id) CROSS JOIN nn
          JOIN mu ma ON ma.i = a.i JOIN mu mb ON mb.i = b.i
          GROUP BY a.i, b.i, nn.n, ma.mu, mb.mu),
        it0 AS (SELECT i, 1.0 / sqrt(64.0) AS v
                FROM range(1, 65) t(i)),"""
    + pca_iter.format(K=1, P=0) + ","
    + pca_iter.format(K=2, P=1) + ","
    + pca_iter.format(K=3, P=2) + """
        SELECT el.vec_id,
               round(sum((el.x - mu.mu) * it3.v), 6) AS pc1
        FROM el JOIN mu USING (i) JOIN it3 USING (i)
        GROUP BY el.vec_id
    """), headline=True)
def emb_pca_project(spark, sf):
    # distributed PCA: covariance from ONE mapInArrow moment
    # pass (d²+d+1 doubles per partition — treeAggregate shape,
    # no vector ever shuffles), driver-side power iteration on
    # the d×d matrix, second map pass projects (x−μ)·v; the
    # oracle replays covariance + 3 normalize-multiply rounds
    # relationally (operators/clustering.py::pca_project)
    return pca_project(_load(spark, sf, "embeddings"),
                       "vec_id", "embedding", iterations=3)


@query(oracle=lambda: ("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v FROM e
              ORDER BY vec_id LIMIT 5),"""
    + ",".join(pq_sub.format(S=s, LO=16 * s + 1, HI=16 * s + 16)
               for s in range(4)) + """
        SELECT query_id, vec_id, round(adc, 6) AS adc_dist FROM (
          SELECT query_id, vec_id, sum(dpart) AS adc FROM (
            SELECT * FROM adc0 UNION ALL SELECT * FROM adc1
            UNION ALL SELECT * FROM adc2 UNION ALL SELECT * FROM adc3)
          GROUP BY 1, 2)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY round(adc, 6) ASC, vec_id ASC) <= 10
    """), headline=True)
def ann_pq_adc_topk(spark, sf):
    # product quantization (FAISS PQ core): 4 per-subspace Lloyd
    # codebooks (deterministic first-k init, 1 update) trained in
    # ONE mapInArrow pass per iteration, vectors encoded to 4
    # small ints, then asymmetric-distance top-10 per query via
    # per-query (m×k) lookup tables — O(m) gathers per item over
    # codes instead of O(d) float math; ranking by ROUNDED
    # distance + id tie-break for engine-order reproducibility
    # (operators/quantize.py::pq_train/pq_encode/pq_adc_topk)
    emb = _load(spark, sf, "embeddings")
    books = pq_train(emb, m=4, k=16, iterations=1)
    codes = pq_encode(emb, books)
    queries = [(r["vec_id"], list(r["embedding"]))
               for r in emb.orderBy("vec_id").limit(5).collect()]
    return pq_adc_topk(codes, books, queries, topk=10)


# IVF-PQ: coarse Lloyd replay (the kmeans CTE pattern, k=8, one
# update) gives inverted lists + per-query nprobe=2 probes; the
# PQ subspace CTEs (pq_sub, shared with ann_pq_adc_topk) give the
# codes; ADC restricted to probed-list candidates before ranking
@query(oracle=lambda: ("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v FROM e
              ORDER BY vec_id LIMIT 5),
        c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, v
               FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),"""
    + km_assign.format(K=0, P=0) + ","
    + km_update.format(K=1, P=0) + """,
        lst AS (SELECT vec_id, cid AS cluster FROM (
          SELECT e2.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e2.vec_id
                   ORDER BY list_distance(e2.v, c.v) ASC,
                            c.cid ASC) AS rn
          FROM e e2 CROSS JOIN c1 c) WHERE rn = 1),
        probes AS (SELECT query_id, cid AS cluster FROM (
          SELECT q.query_id, c.cid,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_distance(q.v, c.v) ASC,
                            c.cid ASC) AS rn
          FROM q CROSS JOIN c1 c) WHERE rn <= 2),"""
    + ",".join(pq_sub.format(S=s, LO=16 * s + 1, HI=16 * s + 16)
               for s in range(4)) + """
        SELECT query_id, vec_id, round(adc, 6) AS adc_dist FROM (
          SELECT a.query_id, a.vec_id, sum(a.dpart) AS adc FROM (
            SELECT * FROM adc0 UNION ALL SELECT * FROM adc1
            UNION ALL SELECT * FROM adc2 UNION ALL SELECT * FROM adc3) a
          JOIN lst ON lst.vec_id = a.vec_id
          JOIN probes p ON p.query_id = a.query_id
                       AND p.cluster = lst.cluster
          GROUP BY 1, 2)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY round(adc, 6) ASC, vec_id ASC) <= 10
    """), headline=True)
def ann_ivfpq_topk(spark, sf):
    # IVF-PQ (the FAISS IVFx,PQy architecture) by composition:
    # coarse quantizer = pq_train with m=1, inverted-list
    # assignment = pq_encode with it, nprobe=2 probed lists per
    # query broadcast-join the (cluster, codes) corpus, ADC ranks
    # inside — candidates cut ~nprobe/ncoarse BEFORE any distance
    # math (operators/quantize.py::ivfpq_topk)
    emb = _load(spark, sf, "embeddings")
    queries = [(r["vec_id"], list(r["embedding"]))
               for r in emb.orderBy("vec_id").limit(5).collect()]
    return ivfpq_topk(emb, queries, ncoarse=8, nprobe=2, m=4,
                      k=16, iterations=1, topk=10)


# Matryoshka truncation: cosine over the first-16-dim slices
@query(oracle="""
        WITH t AS (SELECT vec_id,
                          list_slice(embedding::DOUBLE[], 1, 16) AS v
                   FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(q.v, c.v) AS s
          FROM t q JOIN t c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20),
        ranked AS (
          SELECT query_id, corpus_id, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY s DESC, corpus_id ASC) AS rank
          FROM scored)
        SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 5
    """)
def ann_matryoshka_topk(spark, sf):
    # Matryoshka-style (MRL) truncated search: the FIRST 16 of 64
    # dims reused as a 4×-cheaper prefilter embedding — a pure
    # slice feeding the same brute-force machinery (at scale the
    # truncated pass shortlists, the full-dim pass re-ranks);
    # rank-only output like ann_cosine_topk
    emb = _load(spark, sf, "embeddings").select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q = emb.filter(F.col("vec_id") < 20)
    return sim.cosine_topk(q, emb, k=5).select(
        "query_id", "corpus_id", "rank")


@query(oracle="""
        WITH full_scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS s
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20),
        full5 AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY s DESC, corpus_id ASC) AS rank
            FROM full_scored) WHERE rank <= 5),
        t AS (SELECT vec_id,
                     list_slice(embedding::DOUBLE[], 1, 16) AS v
              FROM embeddings),
        tr_scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(q.v, c.v) AS s
          FROM t q JOIN t c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20),
        tr5 AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY s DESC, corpus_id ASC) AS rank
            FROM tr_scored) WHERE rank <= 5),
        hits AS (
          SELECT f.query_id, count(*) AS n_hits
          FROM full5 f JOIN tr5 t2
            ON t2.query_id = f.query_id
           AND t2.corpus_id = f.corpus_id
          GROUP BY 1),
        base AS (SELECT query_id, count(*) AS k
                 FROM full5 GROUP BY 1)
        SELECT b.query_id,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               round(coalesce(h.n_hits, 0) / CAST(b.k AS DOUBLE), 6)
                 AS recall_at_5
        FROM base b LEFT JOIN hits h ON h.query_id = b.query_id
    """)
def ann_matryoshka_recall(spark, sf):
    # retrieval-quality eval of the MRL truncation: recall@5 of
    # the 16-dim prefilter ranking against the full-64-dim exact
    # top-5, per query + the quality trade made visible as data —
    # the methodology number that decides whether the 4× cheaper
    # prefilter is safe (pairs with er_blocking_eval's role for
    # blocking)
    emb = _load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    full = sim.cosine_topk(q, emb, k=5) \
        .select("query_id", "corpus_id")
    emb16 = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q16 = emb16.filter(F.col("vec_id") < 20)
    trunc = sim.cosine_topk(q16, emb16, k=5) \
        .select("query_id", "corpus_id")
    hits = (full.join(trunc, ["query_id", "corpus_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits")))
    return (full.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("k"))
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_hits"), F.lit(0))
                    .cast("long").alias("n_hits"),
                    F.round(F.coalesce(F.col("n_hits"), F.lit(0))
                            / F.col("k"), 6).alias("recall_at_5")))


# per-dim moments: 0-based dim to match posexplode; identical
# E[x²]−E[x]² algebraic form
@query(oracle="""
        WITH el AS (
          SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(embedding)::DOUBLE AS x
          FROM embeddings)
        SELECT dim, count(*) AS n,
               round(sum(x) / count(*), 6) AS mean,
               round(sum(x * x) / count(*)
                     - (sum(x) / count(*)) ** 2, 6) AS variance
        FROM el GROUP BY 1
    """)
def emb_dim_profile(spark, sf):
    # embedding-health diagnostic: per-dimension mean/variance
    # (collapsed or exploded dims are the classic silent encoder
    # failure); posexplode → one partial-agg'd groupBy on dim —
    # n + Σx + Σx² exact-form moments, divides at the end only
    emb = _load(spark, sf, "embeddings")
    el = emb.select(F.posexplode("embedding").alias("dim", "x")) \
        .select("dim", F.col("x").cast("double").alias("x"))
    return (el.groupBy("dim")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("x") / F.count(F.lit(1)), 6)
                 .alias("mean"),
                 F.round(F.sum(F.col("x") * F.col("x"))
                         / F.count(F.lit(1))
                         - (F.sum("x") / F.count(F.lit(1))) ** 2,
                         6).alias("variance")))


@query(oracle=lambda: ("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, v
               FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),"""
    + km_assign.format(K=0, P=0) + ","
    + km_update.format(K=1, P=0) + ","
    + km_assign.format(K=1, P=1) + ","
    + km_update.format(K=2, P=1) + """
        SELECT e.vec_id, c.cid AS cluster,
               round(list_distance(e.v, c.v), 6) AS dist
        FROM e CROSS JOIN c2 c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY list_distance(e.v, c.v) ASC, c.cid ASC) = 1
    """), headline=True)
def kmeans_clusters(spark, sf):
    return kmeans_assign(_load(spark, sf, "embeddings"),
                         k=8, iterations=2)


# pHash near-dup: w=48, h=32 fixed -> L=lcm(32,48)=96; u = 3*colSum
# (48 of them) then 2*rowSum (first 16); bit_j = u_j*64 > sum(u)
@query(oracle="""
        WITH refs AS (
          SELECT printf('img://doc%08d', doc_id) AS mid,
                 printf('img://base%08d', doc_id % 40) AS base
          FROM documents WHERE doc_id < 200),
        mc AS (SELECT mid,
                 (('0x' || substr(md5(mid || ':p'), 1, 15))::BIGINT
                   % 128)::INT AS p,
                 repeat(md5(base), 8) AS hx0,
                 substr(md5(mid), 1, 1) AS nb
               FROM refs),
        m AS (SELECT mid,
                substr(hx0, 1, 2*p + 1) || nb || substr(hx0, 2*p + 3)
                  AS hx
              FROM mc),
        lb AS (SELECT mid,
                 list_transform(range(128),
                   i -> ('0x' || substr(hx, (2*i)::INT + 1, 2))::BIGINT)
                   AS lb
               FROM m),
        u AS (SELECT mid, list_concat(
                list_transform(range(48), c ->
                  3 * list_sum(list_transform(range(32),
                    r -> lb[((r*48 + c) % 128)::INT + 1]))::BIGINT),
                list_transform(range(16), r ->
                  2 * list_sum(list_transform(range(48),
                    c -> lb[((r*48 + c) % 128)::INT + 1]))::BIGINT))
                AS u
              FROM lb),
        ut AS (SELECT mid, u, list_sum(u)::BIGINT AS tot FROM u),
        codes AS (SELECT mid,
            list_sum([CASE WHEN u[(0*16 + i)::INT + 1] * 64 > tot
                      THEN (1::BIGINT << i::INT) ELSE 0 END
                      for i in range(16)])::BIGINT AS b0,
            list_sum([CASE WHEN u[(1*16 + i)::INT + 1] * 64 > tot
                      THEN (1::BIGINT << i::INT) ELSE 0 END
                      for i in range(16)])::BIGINT AS b1,
            list_sum([CASE WHEN u[(2*16 + i)::INT + 1] * 64 > tot
                      THEN (1::BIGINT << i::INT) ELSE 0 END
                      for i in range(16)])::BIGINT AS b2,
            list_sum([CASE WHEN u[(3*16 + i)::INT + 1] * 64 > tot
                      THEN (1::BIGINT << i::INT) ELSE 0 END
                      for i in range(16)])::BIGINT AS b3
          FROM ut),
        eb AS (SELECT mid, k,
                 CASE k WHEN 0 THEN b0 WHEN 1 THEN b1
                        WHEN 2 THEN b2 ELSE b3 END AS v
               FROM codes, unnest([0, 1, 2, 3]) t(k)),
        cand AS (SELECT DISTINCT a.mid AS src, b.mid AS dst
                 FROM eb a JOIN eb b ON a.k = b.k AND a.v = b.v
                                    AND a.mid < b.mid)
        SELECT src, dst, hamming FROM (
          SELECT c.src, c.dst,
                 (bit_count(xor(s.b0, d.b0)) + bit_count(xor(s.b1, d.b1))
                + bit_count(xor(s.b2, d.b2)) + bit_count(xor(s.b3, d.b3))
                 )::INT AS hamming
          FROM cand c JOIN codes s ON c.src = s.mid
                      JOIN codes d ON c.dst = d.mid) z
        WHERE hamming <= 8
    """, headline=True)
def mm_phash_near_dup(spark, sf):
    # IMAGE near-dup dedup: 64-bit mean-threshold perceptual hash
    # over exact scaled-integer pooled pixel sums (bit-identical
    # across engines — no float sign boundaries), 4×16-bit banded
    # LSH candidates, exact Hamming verify ≤ 8
    # (operators/multimodal.py). Input = clustered synthetic media
    # (base payload per id%40 + one perturbed nibble); the oracle
    # replays content bytes, pooling, bit packing, banding, and
    # popcount verification end-to-end in SQL.
    docs = _load(spark, sf, "documents").filter(F.col("doc_id") < 200)
    media = mm.synthesize_media_clustered(docs)
    codes = mm.phash64(mm.pixel_pool_sums(media))
    return mm.phash_near_dup(codes, max_hamming=8)
