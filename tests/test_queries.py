import pytest
from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.plans import queries as Q
from fashion_knowledge_graph_spark.plans.pipeline import KGPipeline


@pytest.fixture(scope="module")
def kg(spark, docs_df, catalog_df, tmp_path_factory):
    wh = tmp_path_factory.mktemp("qwh")
    pipe = KGPipeline(warehouse=str(wh))
    return pipe.build(docs_df, catalog_df)


def test_complete_the_look_semantics(spark, kg):
    edges, nodes = kg["edges"], kg["nodes"]
    # pick a product with at least one WORN_WITH edge
    seed = edges.filter("rel_type = 'WORN_WITH'").first()["src"]
    out = Q.complete_the_look(edges, nodes, product_id=seed,
                              weight_threshold=1, top_k=5)
    rows = out.collect()
    assert rows, "seed with known edge must return recommendations"
    sel_type = {r["product_id"]: r["type"] for r in nodes.collect()}[seed]
    by_rel = {}
    for r in rows:
        by_rel.setdefault(r["rel_type"], []).append(r)
        assert r["weight"] >= 1
        if r["rel_type"] == "WORN_WITH":
            assert r["type"] != sel_type           # P10 inequality
        else:
            assert r["type"] == sel_type           # P10 equality
    for rel, rs in by_rel.items():
        assert len(rs) <= 5
        weights = [r["weight"] for r in rs]
        assert weights == sorted(weights, reverse=True)


def test_complete_the_look_undirected(spark, kg):
    """Edges stored src<=dst must be reachable from either endpoint
    (reference stores both directions, reads undirected)."""
    edges, nodes = kg["edges"], kg["nodes"]
    e = edges.filter("rel_type = 'WORN_WITH'").first()
    for seed in (e["src"], e["dst"]):
        out = Q.complete_the_look(edges, nodes, product_id=seed,
                                  weight_threshold=1, top_k=1000)
        partners = {r["product_id"] for r in out.collect()
                    if r["rel_type"] == "WORN_WITH"}
        other = e["dst"] if seed == e["src"] else e["src"]
        # partner visible unless type filter removed it
        types = {r["product_id"]: r["type"] for r in nodes.collect()}
        if types.get(other) != types.get(seed):
            assert other in partners, (seed, other)


def test_complete_the_look_filters(spark, kg):
    edges, nodes = kg["edges"], kg["nodes"]
    seed = edges.filter("rel_type = 'WORN_WITH'").first()["src"]
    unfiltered = Q.complete_the_look(edges, nodes, product_id=seed,
                                     top_k=1000)
    colors = [r["color"] for r in unfiltered.collect() if r["color"]]
    if colors:
        out = Q.complete_the_look(edges, nodes, product_id=seed,
                                  top_k=1000, filters={"color": colors[0]})
        assert all(r["color"] == colors[0] for r in out.collect())


def test_outfit_from_image_matches_linking(spark, docs_df, catalog_df, kg):
    sample = docs_df.limit(10)
    out = Q.outfit_from_image(sample, catalog_df, threshold=0.7)
    rows = out.collect()
    # compare against the pipeline's linked table restricted to the docs
    doc_ids = {r["doc_id"] for r in sample.select("doc_id").collect()}
    exp = {(r["doc_id"], r["span_idx"], r["product_id"])
           for r in kg["linked"].collect() if r["doc_id"] in doc_ids}
    got = {(r["doc_id"], r["span_idx"], r["product_id"]) for r in rows}
    assert got == exp


def test_outfit_from_text_rrf(spark, catalog_df):
    import numpy as np

    from fashion_knowledge_graph_spark import taxonomy as tax
    from fashion_knowledge_graph_spark.functions.hashing import (
        clip_text_vecs,
        embed_strings,
    )

    # queries seeded from catalog style descriptions so both retrieval
    # paths have real hits (the style path scores 1.0 on the exact
    # description; the CLIP path retrieves attribute-matching items) —
    # plus a control text with no vocabulary hit
    descs = [r["style_description"] for r in
             catalog_df.select("style_description")
             .orderBy("product_id").limit(2).collect()]
    qtexts = [("q1", descs[0]), ("q2", descs[1]),
              ("q_none", "entirely unrelated query text")]
    queries = spark.createDataFrame(qtexts, "query_id string, text string")
    out = Q.outfit_from_text(queries, catalog_df, top_k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rrf_score"])
    # NON-VACUITY: description-seeded queries must return results
    assert by_q.get("q1") and by_q.get("q2"), \
        "description-seeded queries returned no rows (dead paths)"
    for q, scores in by_q.items():
        assert len(scores) <= 5
        assert all(s > 0 for s in scores)
    # python RRF oracle over the two cosine paths; also asserts BOTH
    # paths contribute for the description queries
    cat = catalog_df.select("product_id", "embedding", "style_embedding") \
        .toPandas()
    for qid, text in qtexts:
        qi = clip_text_vecs(np.array([text]), tax.IMG_DIM)[0]
        qs = embed_strings([f"txt:{text}"], tax.TXT_DIM)[0]
        scores = {}
        path_hits = {}
        for thr, qv, col in ((0.2, qi, "embedding"), (0.5, qs, "style_embedding")):
            sims = []
            for pid, vec in zip(cat["product_id"], cat[col]):
                s = float(np.dot(np.asarray(vec, dtype=np.float64), qv))
                if s >= thr:
                    sims.append((pid, s))
            sims.sort(key=lambda t: (-t[1], t[0]))
            path_hits[col] = len(sims)
            for rank, (pid, _) in enumerate(sims, 1):
                scores[pid] = scores.get(pid, 0.0) + 1.0 / (60 + rank)
        if qid != "q_none":
            assert path_hits["embedding"] > 0, f"{qid}: CLIP path dead"
            assert path_hits["style_embedding"] > 0, f"{qid}: style path dead"
        exp_top = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:5]
        got = sorted(((r["product_id"], r["rrf_score"]) for r in rows
                      if r["query_id"] == qid), key=lambda t: (-t[1], t[0]))
        assert [p for p, _ in got] == [p for p, _ in exp_top], qid
        for (gp, gs), (ep, es) in zip(got, exp_top):
            assert gs == pytest.approx(es)


def test_two_hop_recommend_semantics(spark):
    # a--b(3), a--c(1), b--d(2), c--d(5), d--e(4); seed = a
    # 2-hop from a: via b -> d (min(3,2)=2), via c -> d (min(1,5)=1)
    #   d scores 2+1=3 with 2 paths; e is 3 hops away -> absent;
    #   b,c are direct neighbors -> excluded; a itself excluded
    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("b", "d", 2),
         ("c", "d", 5), ("d", "e", 4)],
        "src string, dst string, weight int")
    seeds = spark.createDataFrame([("a",)], "product_id string")
    out = Q.two_hop_recommend(edges, seeds, top_k=10).collect()
    assert [(r["query_id"], r["product_id"], r["score"], r["n_paths"])
            for r in out] == [("a", "d", 3, 2)]


def test_two_hop_recommend_weight_threshold_and_topk(spark):
    # threshold prunes the weight-1 edge BEFORE path enumeration
    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("b", "d", 2), ("c", "e", 9)],
        "src string, dst string, weight int")
    seeds = spark.createDataFrame([("a",)], "product_id string")
    out = Q.two_hop_recommend(edges, seeds, weight_threshold=2,
                              top_k=10).collect()
    # a--c dropped (w=1) so e unreachable; only a->b->d remains
    assert [(r["product_id"], r["score"]) for r in out] == [("d", 2)]


def test_two_hop_mid_degree_cap(spark):
    # hub node h connects to everything: capped out as a mid, but
    # paths through normal mids survive, and h can still be a DST
    edges = [("a", "h", 1), ("h", "c", 1), ("h", "d", 1), ("h", "e", 1),
             ("a", "b", 1), ("b", "c", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, weight int")
    seeds = spark.createDataFrame([("a",)], "product_id string")
    uncapped = {r["product_id"] for r in
                Q.two_hop_recommend(df, seeds, top_k=10).collect()}
    assert uncapped == {"c", "d", "e"}
    capped = {r["product_id"] for r in
              Q.two_hop_recommend(df, seeds, top_k=10,
                                  max_mid_degree=3).collect()}
    # h has degree 4 → its fan-out is dropped; only a->b->c remains
    assert capped == {"c"}
