"""Recommendation query layer over the materialized KG tables.

Spark restatement of the reference's three query shapes (SURVEY §3.3):

- ``complete_the_look``  — graph 1-hop expand + weight top-k
  (src/inference/recommender.py:91-202 → Cypher in
  src/database/graph_database.py:289-326)
- ``outfit_from_image``  — segment/embed query media, link against the
  catalog (src/inference/recommender.py:204-325)
- ``outfit_from_text``   — dual-path retrieval (CLIP-text vs style
  space) fused with RRF k=60 (src/inference/recommender.py:327-382,
  512-552)

Edges are stored once in canonical ``src <= dst`` direction
(operators/edges.py); reads symmetrize, reproducing Neo4j's
undirected ``-[r]-`` match (graph_database.py:308).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.embeddings import clip_text_embed_udf, text_embed_udf
from ..operators import linking as lk
from ..operators.rrf import add_rank, rrf_fuse
from ..operators.topk import grouped_top_k


def symmetrize_edges(edges: DataFrame) -> DataFrame:
    """Canonical (src<=dst) edges → both directions for 1-hop expand."""
    fwd = edges
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        *[c for c in edges.columns if c not in ("src", "dst")])
    return fwd.unionByName(rev)


def complete_the_look(edges: DataFrame, nodes: DataFrame,
                      product_id: str | None = None,
                      weight_threshold: int = 1, top_k: int = 5,
                      filters: dict | None = None,
                      selected: DataFrame | None = None) -> DataFrame:
    """1-hop expand with the reference's predicates:

    - weight >= threshold                       (P9, graph_database.py:309)
    - worn_with: related.type != selected.type  (P10, :309)
      complemented: related.type == selected.type     (:320)
    - dynamic attribute equality filters        (P11, :296)
    - ORDER BY weight DESC LIMIT top_k per rel  (W3, :314/:325)

    ``selected`` optionally passes a DataFrame of (product_id) seeds so
    the same plan serves one id (point lookup) or a million (batch
    scoring) — the seed side broadcasts either way.
    """
    if selected is None:
        spark = edges.sparkSession
        selected = spark.createDataFrame([(product_id,)], "product_id string")
    sel = F.broadcast(
        selected.join(nodes.select("product_id",
                                   F.col("type").alias("sel_type")),
                      "product_id")
        .select(F.col("product_id").alias("sel_id"), "sel_type"))

    sym = symmetrize_edges(edges).filter(
        F.col("weight") >= weight_threshold)
    hop = sym.join(sel, sym.src == F.col("sel_id"))
    related = hop.join(
        nodes.withColumnRenamed("product_id", "dst_id"),
        hop.dst == F.col("dst_id"))
    type_pred = F.when(
        F.col("rel_type") == "WORN_WITH",
        F.col("type") != F.col("sel_type")
    ).otherwise(F.col("type") == F.col("sel_type"))
    out = related.filter(type_pred)
    for k, v in (filters or {}).items():
        out = out.filter(F.col(k) == F.lit(v))
    out = grouped_top_k(
        out, ["sel_id", "rel_type"], [F.desc("weight")],
        top_k, tie_breaks=[F.asc("dst")])
    return out.select(
        F.col("sel_id").alias("query_id"), "rel_type",
        F.col("dst").alias("product_id"), "weight", "images", "source",
        "type", "color", "category")


def two_hop_recommend(edges: DataFrame, seeds: DataFrame,
                      weight_threshold: int = 1,
                      top_k: int = 10,
                      max_mid_degree: int | None = None) -> DataFrame:
    """2-hop expansion — "related to what you're related to" — the
    collaborative-filtering extension of the reference's 1-hop Cypher
    (src/database/graph_database.py:289-326, one `-[r]-` hop further):

    - paths seed → mid → dst over the symmetrized weight-filtered
      graph; the seed itself and its DIRECT neighbors are excluded
      (anti-join), so results are genuinely new discoveries
    - score = Σ over paths of the bottleneck weight min(w1, w2);
      n_paths ranks ties
    - top-k per seed, deterministic dst tie-break

    Scale shape: the seed set broadcasts (hop 1 never shuffles the
    edge table); hop 2 is one equi-join shuffled on the mid key. Hub
    mids fan out quadratically — ``max_mid_degree`` drops mids with
    more than that many neighbors BEFORE hop 2 (one partial-agg'd
    degree count + a semi-join). That is the same celebrity-item
    mitigation every production co-visitation system applies, and it
    is usually recall-NEUTRAL in spirit: a mid connected to half the
    catalog carries almost no signal about any specific pair. Exact
    semantics (no cap) remain the default and the oracle-checked
    configuration.

    Output: (query_id, product_id, score, n_paths).
    """
    sym = symmetrize_edges(edges).filter(
        F.col("weight") >= weight_threshold) \
        .select("src", "dst", "weight")
    if max_mid_degree is not None:
        ok_mid = sym.groupBy("src").agg(
            F.count(F.lit(1)).alias("deg")) \
            .filter(F.col("deg") <= max_mid_degree) \
            .select("src")
        sym_mid = sym.join(ok_mid, "src", "left_semi")
    else:
        sym_mid = sym
    sel = F.broadcast(seeds.select(F.col("product_id").alias("sel_id")))
    h1 = sym.join(sel, sym.src == F.col("sel_id")) \
        .select("sel_id", F.col("dst").alias("mid"),
                F.col("weight").alias("w1"))
    h2 = h1.join(
        sym_mid.select(F.col("src").alias("mid"),
                       F.col("dst").alias("dst2"),
                       F.col("weight").alias("w2")), "mid")
    neigh = h1.select("sel_id", F.col("mid").alias("dst2")).distinct()
    cand = h2.filter(F.col("dst2") != F.col("sel_id")) \
        .join(neigh, ["sel_id", "dst2"], "left_anti")
    scored = cand.groupBy("sel_id", "dst2").agg(
        F.sum(F.least("w1", "w2")).alias("score"),
        F.count(F.lit(1)).alias("n_paths"))
    out = grouped_top_k(scored, ["sel_id"],
                        [F.desc("score"), F.desc("n_paths")],
                        top_k, tie_breaks=[F.asc("dst2")])
    return out.select(F.col("sel_id").alias("query_id"),
                      F.col("dst2").alias("product_id"),
                      "score", "n_paths")


def outfit_from_image(query_docs: DataFrame, catalog: DataFrame,
                      threshold: float = 0.7) -> DataFrame:
    """Query media docs (input_hint shape) → detected garment mentions
    → linking against the catalog (threshold 0.7, recommender.py:227)
    through the same gate and paths as the KG build
    (``linking.pack_catalog`` → ``linking.link_mentions``). Returns
    matched catalog items per query doc."""
    linked = lk.link_mentions(query_docs, catalog, lk.pack_catalog(catalog),
                              threshold=threshold)
    return linked.select("doc_id", "span_idx", "product_id",
                         "category", "score")


def outfit_from_text(query_texts: DataFrame, catalog: DataFrame,
                     top_k: int = 5) -> DataFrame:
    """Dual-path text search fused with RRF (recommender.py:327-382).

    Path 1: embed query text in the image space stand-in, rank catalog
    by cosine (threshold 0.2, :227/:384-442).
    Path 2: embed in the style space, rank by cosine vs
    style_embedding (threshold 0.5, :444-510).
    Fuse: rrf_score = Σ 1/(60+rank); sort desc, truncate top_k (:378).

    query_texts: (query_id, text). Both paths broadcast the queries —
    the catalog scans stay un-shuffled.
    """
    from ..functions.embeddings import cosine_col
    from ..functions.hashing import embed_strings  # noqa: F401 (doc pointer)

    q = query_texts.select(
        "query_id",
        text_embed_udf(F.col("text")).alias("q_style"),
        # CLIP text path: image-space embedding of the query text
        clip_text_embed_udf(F.col("text")).alias("q_img"))
    qb = F.broadcast(q)

    p1 = catalog.join(qb, F.lit(True)) \
        .withColumn("score", cosine_col("embedding", "q_img")) \
        .filter(F.col("score") >= 0.2) \
        .select("query_id", "product_id", "score")
    p1 = add_rank(p1, ["query_id"], [F.desc("score"), F.asc("product_id")])

    p2 = catalog.join(qb, F.lit(True)) \
        .withColumn("score", cosine_col("style_embedding", "q_style")) \
        .filter(F.col("score") >= 0.5) \
        .select("query_id", "product_id", "score")
    p2 = add_rank(p2, ["query_id"], [F.desc("score"), F.asc("product_id")])

    fused = rrf_fuse([p1, p2], keys=["query_id"])
    return grouped_top_k(fused, ["query_id"], [F.desc("rrf_score")],
                         top_k, tie_breaks=[F.asc("product_id")])
