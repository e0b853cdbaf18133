from fashion_knowledge_graph_spark.operators import linking as lk
from fashion_knowledge_graph_spark.operators import mentions as mn
from tests.conftest import rows_set

COLS = ["doc_id", "span_idx", "product_id", "category", "score"]


def test_link_exact_matches_oracle(spark, docs_df, catalog_df, oracle_out):
    mentions = mn.image_mentions(docs_df)
    got = lk.link_exact(mentions, catalog_df)
    assert rows_set(got, COLS, round_floats=4) == \
        rows_set(oracle_out["linked"], COLS, round_floats=4)


def test_link_lsh_recall(spark, docs_df, catalog_df, oracle_out):
    """LSH-blocked variant: P/R >= 0.95 vs brute force (north_rule gate)."""
    mentions = mn.image_mentions(docs_df)
    got = rows_set(lk.link_lsh(mentions, catalog_df),
                   ["doc_id", "span_idx", "product_id"])
    exp = rows_set(oracle_out["linked"], ["doc_id", "span_idx", "product_id"])
    assert exp, "oracle produced no links — fixture broken"
    tp = len(got & exp)
    precision = tp / max(len(got), 1)
    recall = tp / len(exp)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"


def test_threshold_gate_is_top1_then_threshold(spark, docs_df, catalog_df):
    """W5: noise mentions must not fall back to rank-2 matches."""
    mentions = mn.image_mentions(docs_df)
    linked = lk.link_exact(mentions, catalog_df)
    noise = linked.filter(linked.doc_id.isNotNull()) \
        .join(mn.explode_spans(docs_df)
              .filter("media_ref like 'img://noise%'")
              .select("doc_id", "span_idx"),
              ["doc_id", "span_idx"], "inner")
    assert noise.count() == 0


def test_fused_detect_and_link_equals_exact(spark, docs_df, catalog_df):
    """The single-kernel fused path (detect + embed + link in one
    mapInArrow pass) must emit exactly the two-kernel plan's links,
    attrs included."""
    from fashion_knowledge_graph_spark.operators import linking as lk
    from fashion_knowledge_graph_spark.operators import mentions as mn

    m = mn.image_mentions(docs_df)
    a = lk.link_exact(m, catalog_df)
    b = lk.detect_and_link_fused(docs_df, lk.pack_catalog(catalog_df))
    ka = {(r["doc_id"], r["span_idx"]): (r["product_id"], r["category"],
                                         round(r["score"], 6))
          for r in a.collect()}
    kb = {(r["doc_id"], r["span_idx"]): (r["product_id"], r["category"],
                                         round(r["score"], 6))
          for r in b.collect()}
    assert ka == kb and ka
    # attrs struct carried through identically
    attrs_a = {(r["doc_id"], r["span_idx"]): r["attrs"] for r in a.collect()}
    attrs_b = {(r["doc_id"], r["span_idx"]): r["attrs"] for r in b.collect()}
    assert attrs_a == attrs_b
