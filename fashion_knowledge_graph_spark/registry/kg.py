"""Knowledge-graph queries over the fixture world (``registry/world.py``).

The oracles replay the relational stages of the KG build in DuckDB SQL
over the materialized world: linking aggregation, pair and edge
generation, the triple unpivot and lexicon scan, recursive-CTE connected
components, and the queries over them. The UDF stages (hash embeddings,
the mention kernel) are pinned by tests/ against the pure-pandas oracle."""

from __future__ import annotations

import functools
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from fashion_knowledge_graph_spark import taxonomy as ktx
from fashion_knowledge_graph_spark.operators import (
    bgp, components as cc, edges as ed, linking as lk, mentions as mo,
    ontology as onto,
)
from fashion_knowledge_graph_spark.operators.attributes import (
    link_open_ie, open_ie_triples,
)
from fashion_knowledge_graph_spark.operators.er import meta_blocking
from fashion_knowledge_graph_spark.operators.fusion import (
    source_reliability, truth_discovery,
)
from fashion_knowledge_graph_spark.operators.graph import (
    neighbor_sample, node2vec_walks, wl_refine,
)
from fashion_knowledge_graph_spark.operators.linkpred import (
    negative_samples, pra_path_features, transe_entity_ranking,
    transe_sampled_ranking,
)
from fashion_knowledge_graph_spark.operators.mentions import explode_spans
from fashion_knowledge_graph_spark.operators.motif import motif_find
from fashion_knowledge_graph_spark.operators.ontology import (
    domain_range_profile, entity_summary,
)
from fashion_knowledge_graph_spark.operators.rdf import direct_map
from fashion_knowledge_graph_spark.operators.rules import (
    forward_chain, mine_propagation_rules, mine_value_associations,
)
from fashion_knowledge_graph_spark.plans import queries as Q
from fashion_knowledge_graph_spark.registry import query, sql_of
from fashion_knowledge_graph_spark.registry.common import _load
from fashion_knowledge_graph_spark.registry.world import (
    _KG_CACHE, _kg_paths, _kg_query_texts, _kg_world, materialize,
)
from fashion_knowledge_graph_spark.sources.tables import metrics_totals_df


def _unpivot_sql(col: str) -> str:
    """The attribute-triple unpivot over ``lc`` carrying ``col``, its
    arms generated from the same taxonomy the Spark side uses
    (operators/attributes.py)."""
    arms = [f"SELECT pid AS subj, '{ktx.PREDICATES[attr]}' AS pred, "
            f"{attr} AS obj, {col} FROM lc "
            f"WHERE {attr} IS NOT NULL" for attr in ktx.SCALAR_ATTRS]
    arms += [f"SELECT pid AS subj, '{ktx.PREDICATES[attr]}' AS pred, "
             f"unnest({attr}) AS obj, {col} FROM lc"
             for attr in ktx.MULTI_ATTRS]
    return " UNION ALL ".join(arms)


def _lexicon_rows():
    """(token, pred, obj) rows incl. hyphen aliases."""
    for attr, values in ktx.LEXICON_PREDS.items():
        pred = ktx.PREDICATES[attr]
        for v in values:
            surfaces = {v} | ({v.replace("-", " ")} if "-" in v else set())
            for s in sorted(surfaces):
                yield f"('{s}', '{pred}', '{v}')"


attr_triples_sql = _unpivot_sql("score")
# doc-aware twin of the unpivot (kg_asof_state needs the
# observation doc to derive its ingest day)
attr_triples_doc_sql = _unpivot_sql("doc_id")
lex_values = ", ".join(_lexicon_rows())

nodes_cte = """
        nodes AS (
          SELECT product_id, type, color FROM (
            SELECT coalesce(c.canonical_id, k.product_id) AS product_id,
                   k.type, k.color, k.image_path,
                   row_number() OVER (
                     PARTITION BY coalesce(c.canonical_id, k.product_id)
                     ORDER BY k.image_path) AS rn
            FROM cat k LEFT JOIN canon c ON c.product_id = k.product_id) x
          WHERE rn = 1)
    """

tri_cte = f"""
        tri AS (
          SELECT DISTINCT subj::VARCHAR AS subj, pred, obj::VARCHAR AS obj
          FROM (SELECT subj, pred, obj FROM ({attr_triples_sql})
                UNION ALL
                SELECT subj, pred, obj FROM ttr
                UNION ALL
                SELECT src AS subj, 'complements' AS pred,
                       dst AS obj
                FROM edges))
    """

# --- ontology layer (operators/ontology.py), hierarchy VALUES
# generated from the SAME taxonomy constants the Spark side uses ---
hier_values = ", ".join(f"('{c}', '{p}')"
                        for c, p in ktx.hierarchy_edges())
hier_ctes = f"""
        hier(child, parent) AS (VALUES {hier_values}),
        reach2(child, parent, depth) AS (
          SELECT child, parent, 1 FROM hier
          UNION ALL
          SELECT reach2.child, h.parent, reach2.depth + 1
          FROM reach2 JOIN hier h ON h.child = reach2.parent)
    """

pm_values = ", ".join(
    f"('{k}', '{v}')"
    for k, v in sorted(ktx.ENTAILED_PREDICATES.items()))

# shape suite mirrors operators/ontology.py::kg_shapes()
shape_values = ", ".join(
    [f"('{ktx.PREDICATES[attr]}', true, true)"
     for attr in ktx.SCALAR_ATTRS]
    + [f"('{ktx.PREDICATES[attr]}', false, true)"
       for attr in ktx.MULTI_ATTRS]
    + ["('complements', false, false)"])
rng_values = ", ".join(
    f"('{ktx.PREDICATES[attr]}', '{v}')"
    for attrs in (ktx.SCALAR_ATTRS, ktx.MULTI_ATTRS)
    for attr, values in attrs.items() for v in values)

# span-level open IE: lexicon incl. the type vocabulary; a span is
# an instance iff it names exactly one type
lex_ie_values = lex_values + ", " + ", ".join(
    f"('{v}', 'type', '{v}')" for v in ktx.TYPES)

# corrupted-tail negatives: every md5 draw replayed exactly
_np_vocab = ", ".join(
    "('%s', [%s])" % (p, ", ".join(f"'{v}'" for v in vs))
    for p, vs in (("hasColor", ktx.COLORS),
                  ("hasMaterial", ktx.MATERIALS),
                  ("hasStyle", ktx.STYLES)))


# TransE filtered entity-ranking eval: every hash lane, distance,
# rank, and tie-break replayed exactly (operators/linkpred.py::
# transe_entity_ranking — lane j of (role, s) is
# H60('te{{j}}:role:s')/2^60*2-1; same IEEE ops both engines)
def _te_lane(tag: str, s: str, j: int, salt: str = "te") -> str:
    return (f"(('0x' || substr(md5('{salt}{j}:{tag}:' || {s}), 1, 15))"
            f"::BIGINT::DOUBLE / {float(1 << 60)!r} * 2.0 - 1.0)")


_te_dim = 8
_te_hr = ",\n               ".join(
    f"({_te_lane('ent', 'subj', j)} + {_te_lane('rel', 'pred', j)})"
    f" AS hr{j}" for j in range(_te_dim))
_te_o = ",\n               ".join(
    f"{_te_lane('ent', 'obj', j)} AS o{j}" for j in range(_te_dim))
_te_c = ",\n               ".join(
    f"{_te_lane('ent', 'cand', j)} AS c{j}" for j in range(_te_dim))
_te_dist_true = " + ".join(
    f"(hr{j} - o{j}) * (hr{j} - o{j})" for j in range(_te_dim))
_te_dist = " + ".join(
    f"(hr{j} - c{j}) * (hr{j} - c{j})" for j in range(_te_dim))

# sampled-negative TransE ranking: the entity-vocabulary protocol
# (k=20 skip-one draws per positive, with replacement, raw) —
# draws, lanes, distances, ties all replayed
_ts_k = 20
_ts_hr = ",\n               ".join(
    f"({_te_lane('ent', 'subj', j, 'ts')} + "
    f"{_te_lane('rel', 'pred', j, 'ts')}) AS hr{j}"
    for j in range(_te_dim))
_ts_o = ",\n               ".join(
    f"{_te_lane('ent', 'obj', j, 'ts')} AS o{j}"
    for j in range(_te_dim))
_ts_n = ",\n                   ".join(
    f"{_te_lane('ent', 'neg_obj', j, 'ts')} AS g{j}"
    for j in range(_te_dim))
_ts_dist_neg = " + ".join(
    f"(hr{j} - g{j}) * (hr{j} - g{j})" for j in range(_te_dim))

# truth discovery, both rounds unrolled: uniform-quantum majority
# (c0), integer-quantized source trust (tru), trust-weighted
# revote (v1) with exact (score, obj) tie-break
truth_ctes = f"""
        trd AS (SELECT subj::VARCHAR AS subj, pred,
                       obj::VARCHAR AS obj, doc_id::VARCHAR AS doc_id
                FROM ({attr_triples_doc_sql}) WHERE subj LIKE 'p%'),
        claims AS (SELECT DISTINCT
                     substr(md5('src:' || doc_id), 1, 1) AS source,
                     subj, pred, obj
                   FROM trd),
        v0 AS (SELECT subj, pred, obj,
                      sum(1000000::BIGINT) AS score
               FROM claims GROUP BY 1, 2, 3),
        c0 AS (SELECT subj, pred, obj FROM (
                 SELECT v0.*, row_number() OVER (
                   PARTITION BY subj, pred
                   ORDER BY score DESC, obj DESC) AS rn FROM v0) x
               WHERE rn = 1),
        tru AS (SELECT cl.source,
                       (1000000 * sum(CASE WHEN c.obj IS NOT NULL
                                           THEN 1 ELSE 0 END))
                         // count(*) AS w
                FROM claims cl LEFT JOIN c0 c
                  ON c.subj = cl.subj AND c.pred = cl.pred
                 AND c.obj = cl.obj
                GROUP BY 1),
        v1 AS (SELECT cl.subj, cl.pred, cl.obj,
                      sum(t.w) AS score, count(*) AS n_sources
               FROM claims cl JOIN tru t USING (source)
               GROUP BY 1, 2, 3),
        tot AS (SELECT subj, pred, sum(score) AS denom
                FROM v1 GROUP BY 1, 2),
        win AS (SELECT v1.*, row_number() OVER (
                  PARTITION BY subj, pred
                  ORDER BY score DESC, obj DESC) AS rn FROM v1)"""

# node2vec-style biased walks, 3 steps unrolled: candidate mult =
# 4 (return) / 1 (prev-neighborhood or no prev) / 2 (beyond),
# winner = argmin(hash60 * mult) with (score, cand) tie-break
n2v_step = """
        cand{t} AS (
          SELECT f.walk_id, f.cur, f.prev, a.nxt,
                 CASE WHEN f.prev IS NULL THEN 1
                      WHEN a.nxt = f.prev THEN 4
                      WHEN pn.nxt IS NOT NULL THEN 1
                      ELSE 2 END::BIGINT AS mult,
                 ('0x' || substr(md5(f.walk_id || ':{t}:' || f.cur
                                     || ':' || a.nxt), 1, 15))::BIGINT
                   AS h
          FROM f{p} f JOIN n2adj a ON a.cur = f.cur
          LEFT JOIN n2adj pn
            ON pn.cur = f.prev AND pn.nxt = a.nxt),
        f{t} AS (
          SELECT walk_id, nxt AS cur, cur AS prev FROM (
            SELECT c.*, row_number() OVER (
              PARTITION BY walk_id
              ORDER BY h * mult ASC, nxt ASC) AS rn
            FROM cand{t} c) x
          WHERE rn = 1)
    """
n2v_steps = ",".join(
    n2v_step.format(t=t, p=t - 1) for t in (1, 2, 3))

# AMIE propagation rules: per attribute predicate, exact body /
# support / PCA counts over the symmetrized relation
_RULE_PREDS = (("col", "hasColor"), ("mat", "hasMaterial"),
               ("sty", "hasStyle"))
rule_ctes_sql = ",".join(f"""
        b{tag} AS (SELECT DISTINCT r.x, r.y, t.v FROM rel r
                   JOIN (SELECT subj AS x, obj AS v FROM tri
                         WHERE pred = '{pred}') t ON t.x = r.x),
        p{tag} AS (SELECT DISTINCT subj AS y, obj AS v FROM tri
                   WHERE pred = '{pred}'),
        a{tag} AS (SELECT DISTINCT subj AS y FROM tri
                   WHERE pred = '{pred}'),
        m{tag} AS (SELECT count(*) AS n_body,
                          sum(CASE WHEN p.v IS NOT NULL
                                   THEN 1 ELSE 0 END)::BIGINT AS n_pos,
                          sum(CASE WHEN a.y IS NOT NULL
                                   THEN 1 ELSE 0 END)::BIGINT AS n_pca
                   FROM b{tag}
                   LEFT JOIN p{tag} p
                     ON p.y = b{tag}.y AND p.v = b{tag}.v
                   LEFT JOIN a{tag} a ON a.y = b{tag}.y)"""
    for tag, pred in _RULE_PREDS)
rule_union = " UNION ALL ".join(
    f"SELECT '{pred}(x,v) & complements(x,y) => {pred}(y,v)' "
    f"AS rule, n_body, n_pos, n_pca FROM m{tag}"
    for tag, pred in _RULE_PREDS)


@functools.cache
def _world_fragments(sf_dir: str) -> dict:
    """The SQL fragments that read the fixture world of ``sf_dir``: its
    parquet paths and the CTEs built on them."""
    p = _kg_paths(sf_dir)
    linked_glob = os.path.join(p["wh"], "linked", "data", "*", "*.parquet")
    docs_glob = os.path.join(p["docs"], "*.parquet")
    qembs_glob = os.path.join(p["qembs"], "*.parquet")
    qimg_glob = os.path.join(p["qimg"], "*.parquet")

    # shared base: catalog, near-dup pairs, CC via recursive min-label
    # reachability, linked mentions, canonicalized pairs, edges
    base = f"""
        cat AS (SELECT * FROM read_parquet('{p["catalog"]}')),
        dup AS (
          SELECT a.product_id AS src, b.product_id AS dst
          FROM cat a JOIN cat b
            ON a.type = b.type AND a.color = b.color
           AND a.product_id < b.product_id
           AND list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]) >= 0.98),
        dsym AS (SELECT src, dst FROM dup
                 UNION ALL SELECT dst AS src, src AS dst FROM dup),
        reach(id, r) AS (
          SELECT product_id, product_id FROM cat
          UNION
          SELECT s.dst, reach.r FROM reach JOIN dsym s ON s.src = reach.id),
        canon AS (SELECT id AS product_id, min(r) AS canonical_id
                  FROM reach GROUP BY id),
        linked AS (SELECT * FROM read_parquet('{linked_glob}')),
        lc AS (SELECT l.*, coalesce(c.canonical_id, l.product_id) AS pid
               FROM linked l
               LEFT JOIN canon c ON c.product_id = l.product_id),
        prs AS (
          SELECT a.doc_id, least(a.pid, b.pid) AS src,
                 greatest(a.pid, b.pid) AS dst,
                 CASE WHEN a.category IS NOT NULL AND b.category IS NOT NULL
                           AND a.category = b.category
                      THEN 'COMPLEMENTED_BY' ELSE 'WORN_WITH' END AS rel_type,
                 CASE WHEN substr(md5(a.doc_id), 1, 1) < '8'
                      THEN 'social_media' ELSE 'web_crawl' END AS source
          FROM lc a JOIN lc b
            ON a.doc_id = b.doc_id AND a.span_idx < b.span_idx),
        edges AS (
          -- A3 last-write-wins: source of the max-doc observation
          -- (operators/edges.py max_by(source, image))
          SELECT src, dst, rel_type, count(*) AS weight,
                 arg_max(source, doc_id) AS source
          FROM prs GROUP BY 1, 2, 3)
    """

    text_triples_cte = f"""
        tspans AS (
          SELECT doc_id, (unnest(spans)).kind AS kind,
                 (unnest(spans)).text AS text
          FROM read_parquet('{docs_glob}')),
        padded AS (
          SELECT doc_id,
                 ' ' || regexp_replace(lower(text), '[^a-z0-9\\-]+', ' ', 'g')
                     || ' ' AS ptxt
          FROM tspans WHERE kind = 'text' AND text IS NOT NULL),
        lex(token, pred, obj) AS (VALUES {lex_values}),
        ttr AS (
          SELECT DISTINCT p.doc_id AS subj, l.pred, l.obj
          FROM padded p JOIN lex l
            ON contains(p.ptxt, ' ' || l.token || ' '))
    """

    pregate_glob = os.path.join(p["pregate"], "*.parquet")

    # instance grounding: (type,color) candidates, material/style
    # overlap score, deterministic top-1 (replays link_open_ie)
    ie_ctes = f"""
        tspans AS (
          SELECT doc_id, (unnest(spans)).kind AS kind,
                 (unnest(spans)).text AS text
          FROM read_parquet('{p["ie_docs"]}')),
        txt AS (
          SELECT doc_id, doc_id || ':' || md5(text) AS inst,
                 ' ' || regexp_replace(lower(text),
                                       '[^a-z0-9\\-]+', ' ', 'g')
                     || ' ' AS ptxt
          FROM tspans WHERE kind = 'text' AND text IS NOT NULL),
        lex(token, pred, obj) AS (VALUES {lex_ie_values}),
        hits AS (
          SELECT DISTINCT t.inst, t.doc_id, l.pred, l.obj
          FROM txt t JOIN lex l
            ON contains(t.ptxt, ' ' || l.token || ' ')),
        ok AS (SELECT inst FROM hits WHERE pred = 'type'
               GROUP BY inst HAVING count(DISTINCT obj) = 1),
        okh AS (SELECT h.* FROM hits h JOIN ok USING (inst))
    """
    return {"base": base,
            "docs_glob": docs_glob,
            "ie_ctes": ie_ctes,
            "linked_glob": linked_glob,
            "p": p,
            "pregate_glob": pregate_glob,
            "qembs_glob": qembs_glob,
            "qimg_glob": qimg_glob,
            "text_triples_cte": text_triples_cte}


class _WorldSql:
    """``world.<fragment>``: a fragment of ``_world_fragments`` for the
    oracle sf (``$SPARK_GRAFT_ORACLE_SF_DIR``). The first read materializes
    that world if no process has yet."""

    def __getattr__(self, name: str):
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                "/root/testdata/sf0.01")
        materialize(sf_dir)
        return _world_fragments(sf_dir)[name]


world = _WorldSql()


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}
        SELECT subj, pred, obj, score FROM ({attr_triples_sql})
        UNION ALL
        SELECT subj, pred, obj, 1.0::DOUBLE AS score FROM ttr
        UNION ALL
        SELECT src AS subj, 'complements' AS pred, dst AS obj,
               weight::DOUBLE AS score
        FROM edges
    """)
def kg_triples(spark, sf):
    return _kg_world(spark, sf)["triples"] \
        .select("subj", "pred", "obj", "score")


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}
        SELECT src, dst, rel_type, weight, source FROM edges
    """)
def kg_edges(spark, sf):
    out = _kg_world(spark, sf)["edges"]
    return out.select("src", "dst", "rel_type", "weight", "source")


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}
        SELECT product_id, canonical_id FROM canon
    """)
def kg_canonical(spark, sf):
    return _kg_world(spark, sf)["canonical"]


# incremental update must land on the SAME mapping a from-scratch
# recompute produces (update_canonical_mapping's growth contract)
@query(oracle=lambda: sql_of("kg_canonical"))
def kg_canonical_incremental(spark, sf):
    # Incremental canonicalization — the maintenance path a
    # 10^12-row catalog actually runs: seed the mapping from ~70%
    # of the catalog, then fold the remaining items in via the
    # probe-restricted LSH pair join + CC over (old star edges ∪
    # new incident edges), never re-pairing existing items
    # (components.update_canonical_mapping). Must equal the
    # from-scratch mapping the oracle replays.
    catalog = _kg_world(spark, sf)["catalog"]
    part = catalog.filter(F.crc32("product_id") % 10 < 7)
    old = cc.canonical_mapping(part, lk.pack_catalog(part))
    return cc.update_canonical_mapping(catalog, old)


# committed-edges MERGE new-docs delta must equal the full
# re-aggregation — kg_edges' replay plus the sorted evidence
# string, so the list merge itself is hash-checked
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        ev AS (SELECT src, dst, rel_type,
                      string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
                        AS evidence
               FROM prs GROUP BY 1, 2, 3)
        SELECT e.src, e.dst, e.rel_type, e.weight, e.source, v.evidence
        FROM edges e JOIN ev v USING (src, dst, rel_type)
    """)
def kg_edges_incremental(spark, sf):
    # Neo4j-MERGE-shaped edge maintenance (edges.merge_edge_delta):
    # edges for a grown corpus = committed edges (from ~70% of
    # docs) MERGE the delta aggregated over ONLY the new docs'
    # linked rows — weight++, sorted evidence append, last-write
    # source. Must equal the full re-aggregation the oracle
    # replays (same SQL as kg_edges); evidence lists are compared
    # via their joined string so the merge itself is hash-checked.
    out = _kg_world(spark, sf)
    narrow = out["linked"].select("doc_id", "span_idx",
                                  "product_id", "category")
    lc = cc.canonicalize(narrow, out["canonical"], ["product_id"])
    split = F.crc32(F.col("doc_id").cast("string")) % 10
    merged = ed.merge_edge_delta(
        ed.aggregate_edges(ed.cooccurrence_pairs(
            lc.filter(split < 7))),
        ed.aggregate_edges(ed.cooccurrence_pairs(
            lc.filter(split >= 7))))
    return merged.select(
        "src", "dst", "rel_type", "weight", "source",
        F.array_join(
            F.transform("images", lambda x: x.cast("string")),
            ",").alias("evidence"))


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {nodes_cte},
        seeds AS (SELECT DISTINCT src AS sel_id FROM edges
                  ORDER BY sel_id LIMIT 20),
        selt AS (SELECT s.sel_id, n.type AS sel_type
                 FROM seeds s JOIN nodes n ON n.product_id = s.sel_id),
        esym AS (SELECT src, dst, rel_type, weight FROM edges
                 WHERE weight >= 1
                 UNION ALL
                 SELECT dst AS src, src AS dst, rel_type, weight FROM edges
                 WHERE weight >= 1),
        hop AS (SELECT t.sel_id, t.sel_type, e.dst, e.rel_type, e.weight,
                       n.type
                FROM selt t
                JOIN esym e ON e.src = t.sel_id
                JOIN nodes n ON n.product_id = e.dst),
        filt AS (SELECT * FROM hop
                 WHERE CASE WHEN rel_type = 'WORN_WITH'
                            THEN type <> sel_type
                            ELSE type = sel_type END)
        SELECT sel_id AS query_id, rel_type, dst AS product_id, weight
        FROM (SELECT *, row_number() OVER (
                PARTITION BY sel_id, rel_type
                ORDER BY weight DESC, dst ASC) AS rn
              FROM filt) z
        WHERE rn <= 5
    """)
def kg_complete_the_look(spark, sf):
    out = _kg_world(spark, sf)
    # deterministic seeds: first 20 edge sources by id (a bare
    # limit() without order is partition-order-dependent)
    seeds = out["edges"].select(
        F.col("src").alias("product_id")).distinct() \
        .orderBy("product_id").limit(20)
    return Q.complete_the_look(out["edges"], out["nodes"],
                               selected=seeds, top_k=5) \
        .select("query_id", "rel_type", "product_id", "weight")


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        seeds AS (SELECT DISTINCT src AS sel_id FROM edges
                  ORDER BY sel_id LIMIT 20),
        esym AS (SELECT src, dst, weight FROM edges WHERE weight >= 1
                 UNION ALL
                 SELECT dst AS src, src AS dst, weight FROM edges
                 WHERE weight >= 1),
        h1 AS (SELECT s.sel_id, e.dst AS mid, e.weight AS w1
               FROM seeds s JOIN esym e ON e.src = s.sel_id),
        h2 AS (SELECT h1.sel_id, h1.w1, e.dst AS dst2, e.weight AS w2
               FROM h1 JOIN esym e ON e.src = h1.mid),
        cand AS (
          SELECT * FROM h2
          WHERE dst2 <> sel_id
            AND NOT EXISTS (SELECT 1 FROM h1 x
                            WHERE x.sel_id = h2.sel_id
                              AND x.mid = h2.dst2)),
        scored AS (
          SELECT sel_id, dst2,
                 sum(least(w1, w2))::BIGINT AS score,
                 count(*) AS n_paths
          FROM cand GROUP BY 1, 2)
        SELECT sel_id AS query_id, dst2 AS product_id, score, n_paths
        FROM (SELECT *, row_number() OVER (
                PARTITION BY sel_id
                ORDER BY score DESC, n_paths DESC, dst2 ASC) AS rn
              FROM scored) z
        WHERE rn <= 10
    """)
def kg_2hop_recs(spark, sf):
    # 2-hop collaborative-filtering expansion: new items reachable
    # through a shared neighbor, direct neighbors excluded,
    # bottleneck-weight path scoring (plans/queries.py::
    # two_hop_recommend; oracle replays both hops + NOT EXISTS +
    # scoring in SQL over the materialized edges)
    out = _kg_world(spark, sf)
    seeds = out["edges"].select(
        F.col("src").alias("product_id")).distinct() \
        .orderBy("product_id").limit(20)
    return Q.two_hop_recommend(out["edges"], seeds, top_k=10)


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        vocab(pred, arr) AS (VALUES {_np_vocab}),
        pos AS (SELECT DISTINCT subj, pred, obj FROM tri
                WHERE pred IN ('hasColor', 'hasMaterial', 'hasStyle')),
        e AS (SELECT pos.subj, pos.pred, pos.obj, t.i AS neg_ix,
                     v.arr, len(v.arr) AS n
              FROM pos JOIN vocab v USING (pred),
                   LATERAL unnest([0, 1]) AS t(i)),
        h AS (SELECT *,
                     CAST(('0x' || substr(md5('neg:' || neg_ix::VARCHAR
                       || ':' || subj || ':' || pred || ':' || obj),
                       1, 15))::BIGINT % n AS INT) AS idx
              FROM e),
        c AS (SELECT subj, pred, obj, neg_ix,
                     CASE WHEN arr[idx + 1] = obj
                          THEN arr[((idx + 1) % n) + 1]
                          ELSE arr[idx + 1] END AS obj_neg
              FROM h)
        SELECT subj, pred, obj_neg, neg_ix
        FROM c
        WHERE obj_neg != obj
          AND NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.subj = c.subj AND p.pred = c.pred
                            AND p.obj = c.obj_neg)
    """)
def kg_negative_samples(spark, sf):
    # Link-prediction training negatives (operators/linkpred.py):
    # 2 corrupted-tail draws per distinct attribute triple, drawn
    # from the closed taxonomy vocabulary via the portable 60-bit
    # md5 hash — vocab ships as a literal map (no join), the only
    # exchange is the filtered-negative anti-join; the oracle
    # replays every draw bit-for-bit
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    return negative_samples(
        t, {"hasColor": ktx.COLORS, "hasMaterial": ktx.MATERIALS,
            "hasStyle": ktx.STYLES}, k=2)


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        per_subj AS (SELECT pred, subj, count(*) AS k
                     FROM tri GROUP BY 1, 2),
        st AS (SELECT pred, sum(k) AS n_triples,
                      count(*) AS n_subjects, max(k) AS max_fanout
               FROM per_subj GROUP BY 1),
        no AS (SELECT pred, count(DISTINCT obj) AS n_objects
               FROM tri GROUP BY 1)
        SELECT st.pred,
               CAST(n_triples AS BIGINT) AS n_triples,
               CAST(n_subjects AS BIGINT) AS n_subjects,
               CAST(n_objects AS BIGINT) AS n_objects,
               CAST(max_fanout AS BIGINT) AS max_fanout,
               max_fanout = 1 AS is_functional,
               round(n_triples / CAST(n_subjects AS DOUBLE), 6)
                 AS mean_fanout
        FROM st JOIN no ON no.pred = st.pred
    """)
def kg_pred_stats(spark, sf):
    # KG schema profiling (the KG-refinement datasheet): per
    # predicate over the distinct triple set — triple count,
    # distinct subjects/objects, max + mean subject fan-out and
    # the derived is_functional flag (max fan-out 1 ⇒ the
    # predicate behaves like a key). Two partial-agg'd
    # aggregations on the triple stream; everything else is
    # predicate-cardinality-sized
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred", F.col("obj").cast("string").alias("obj"))
         .distinct())
    per_subj = (t.groupBy("pred", "subj")
                .agg(F.count(F.lit(1)).alias("k")))
    stats = (per_subj.groupBy("pred")
             .agg(F.sum("k").alias("n_triples"),
                  F.count(F.lit(1)).alias("n_subjects"),
                  F.max("k").alias("max_fanout")))
    nobj = (t.groupBy("pred")
            .agg(F.countDistinct("obj").alias("n_objects")))
    return (stats.join(nobj, "pred")
            .select("pred", "n_triples", "n_subjects", "n_objects",
                    "max_fanout",
                    (F.col("max_fanout") == 1).alias("is_functional"),
                    F.round(F.col("n_triples")
                            / F.col("n_subjects").cast("double"),
                            6).alias("mean_fanout")))


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte}
        SELECT a.subj, o.obj AS gender
        FROM (SELECT subj FROM tri
              WHERE pred = 'hasColor' AND obj = 'black') a
        JOIN (SELECT subj FROM tri
              WHERE pred = 'hasMaterial' AND obj = 'cotton') b
          ON a.subj = b.subj
        LEFT JOIN (SELECT subj, obj FROM tri WHERE pred = 'gender') o
          ON o.subj = a.subj
    """)
def kg_star_join(spark, sf):
    # The SPARQL star-join shape over the triple table: subjects
    # matching BOTH mandatory patterns (hasColor=black ∧
    # hasMaterial=cotton) with an OPTIONAL gender pattern left-
    # joined on — three self-joins of the same triple scan, each
    # arm filtered before its shuffle (predicate+object pushdown
    # is what keeps a 10^12-triple star join feasible)
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred", F.col("obj").cast("string").alias("obj"))
         .distinct())
    a = t.filter((F.col("pred") == "hasColor")
                 & (F.col("obj") == "black")).select("subj")
    b = t.filter((F.col("pred") == "hasMaterial")
                 & (F.col("obj") == "cotton")).select("subj")
    opt = t.filter(F.col("pred") == "gender") \
        .select("subj", F.col("obj").alias("gender"))
    return a.join(b, "subj").join(opt, "subj", "left") \
        .select("subj", "gender")


@query(oracle=lambda: f"""
        WITH RECURSIVE {hier_ctes}
        SELECT child, parent, CAST(min(depth) AS INT) AS depth
        FROM reach2 GROUP BY 1, 2
    """)
def kg_taxonomy_closure(spark, sf):
    # Transitive closure of the taxonomy subClassOf DAG via
    # path-doubling self-joins (O(log depth) shuffle rounds —
    # the property that survives a deep ontology; the oracle
    # replays it as a recursive CTE). Dimension-sized input; the
    # operator also backs kg_rdfs_entailment's broadcast side.
    return onto.transitive_closure(onto.hierarchy_df(spark)) \
        .select("child", "parent",
                F.col("depth").cast("int").alias("depth"))


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        {hier_ctes},
        pm(pred_in, pred_out) AS (VALUES {pm_values})
        SELECT DISTINCT t.subj, pm.pred_out AS pred,
               r.parent AS obj
        FROM tri t
        JOIN pm ON pm.pred_in = t.pred
        JOIN reach2 r ON r.child = t.obj
    """)
def kg_rdfs_entailment(spark, sf):
    # RDFS-style entailment over the triple stream: hasColor /
    # hasMaterial objects are classified by the taxonomy hierarchy
    # and every ancestor is emitted as an inferred
    # hasColorClass / hasMaterialClass triple. The closure is
    # taxonomy-sized and BROADCAST — the 10^12-row triple side is
    # map-joined once, never shuffled (operators/ontology.py)
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    cl = onto.transitive_closure(onto.hierarchy_df(spark))
    return onto.entail_ancestors(t, cl)


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        sh(pred, functional, has_range) AS (VALUES {shape_values}),
        rng(pred, allowed) AS (VALUES {rng_values}),
        ps AS (
          SELECT t.pred, t.subj,
                 count(DISTINCT t.obj) AS k,
                 max(CASE WHEN sh.functional THEN 1 ELSE 0 END)
                   AS functional,
                 sum(CASE WHEN sh.has_range AND rg.allowed IS NULL
                          THEN 1 ELSE 0 END) AS n_oor
          FROM tri t
          JOIN sh ON sh.pred = t.pred
          LEFT JOIN rng rg
            ON rg.pred = t.pred AND rg.allowed = t.obj
          GROUP BY 1, 2)
        SELECT pred,
               CAST(sum(k) AS BIGINT) AS n_triples,
               CAST(count(*) AS BIGINT) AS n_subjects,
               CAST(sum(CASE WHEN functional = 1 AND k > 1
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_functional_violations,
               CAST(sum(n_oor) AS BIGINT) AS n_range_violations
        FROM ps GROUP BY 1
    """)
def kg_shacl_report(spark, sf):
    # SHACL-lite shape validation over the KG triples: per shaped
    # predicate — distinct triples, subjects, functional-property
    # violations (>1 object where the vocabulary says scalar:
    # doc-subject text mentions legitimately trip this, canonical
    # merges can too) and closed-range violations. Two
    # partial-agg'd shuffles of (pred,subj) cardinality; ranges
    # ride broadcast joins (operators/ontology.py::shacl_report)
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    return onto.shacl_report(t, onto.kg_shapes())


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        fw AS (SELECT DISTINCT src AS s, dst AS d FROM edges)
        SELECT r.d AS subj, r.s AS obj FROM fw r
        WHERE NOT EXISTS (SELECT 1 FROM fw x
                          WHERE x.s = r.d AND x.d = r.s)
    """)
def kg_symmetric_closure(spark, sf):
    # Symmetric completion of `complements`: the reference writes
    # both directions imperatively (process_social_media_images
    # .py:135-146); the batch engine stores canonical sorted pairs
    # and derives the inverses relationally — one anti-join on the
    # pair key, no full-table state
    ed = _kg_world(spark, sf)["edges"] \
        .select(F.col("src").alias("subj"),
                F.col("dst").alias("obj"))
    return onto.symmetric_closure(ed)


# BGP compiler replay: same pattern as hand-written self-joins
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte}
        SELECT DISTINCT e.subj AS a, e.obj AS b, s1.obj AS s,
               g.obj AS g
        FROM tri e
        JOIN tri s1 ON s1.pred = 'hasStyle' AND s1.subj = e.subj
        JOIN tri s2 ON s2.pred = 'hasStyle' AND s2.subj = e.obj
                   AND s2.obj = s1.obj
        LEFT JOIN (SELECT subj, obj FROM tri
                   WHERE pred = 'gender') g ON g.subj = e.subj
        WHERE e.pred = 'complements'
    """)
def kg_bgp_query(spark, sf):
    # SPARQL-style basic-graph-pattern over the triple table,
    # compiled (not hand-written) by operators/bgp.py: complement
    # pairs sharing a style, with the first item's gender OPTIONAL
    # — constants pushed into each arm before any join, greedy
    # most-selective-first join order, left join for OPTIONAL
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    return bgp.bgp_query(
        t,
        [("?a", "complements", "?b"),
         ("?a", "hasStyle", "?s"),
         ("?b", "hasStyle", "?s")],
        optionals=[("?a", "gender", "?g")]) \
        .select("a", "b", "s", "g")


@query(oracle=lambda: f"""
        WITH tspans AS (
          SELECT doc_id, (unnest(spans)).kind AS kind,
                 (unnest(spans)).text AS text
          FROM read_parquet('{world.p["ie_docs"]}')),
        txt AS (
          SELECT doc_id, doc_id || ':' || md5(text) AS inst,
                 ' ' || regexp_replace(lower(text),
                                       '[^a-z0-9\\-]+', ' ', 'g')
                     || ' ' AS ptxt
          FROM tspans WHERE kind = 'text' AND text IS NOT NULL),
        lex(token, pred, obj) AS (VALUES {lex_ie_values}),
        hits AS (
          SELECT DISTINCT t.inst, t.doc_id, l.pred, l.obj
          FROM txt t JOIN lex l
            ON contains(t.ptxt, ' ' || l.token || ' ')),
        ok AS (SELECT inst FROM hits WHERE pred = 'type'
               GROUP BY inst HAVING count(DISTINCT obj) = 1)
        SELECT h.inst AS subj, h.pred, h.obj, h.doc_id
        FROM hits h JOIN ok USING (inst)
    """)
def kg_open_ie(spark, sf):
    # Span-level open IE: each text span that names exactly one
    # garment type becomes a content-addressed item instance
    # (doc_id:md5(text)); its color/material/style hits attach to
    # the instance, not the doc (operators/attributes.py::
    # open_ie_triples — zero-shuffle lexicon scan + one gate agg)
    _kg_world(spark, sf)
    docs = spark.read.parquet(_kg_paths(sf)["ie_docs"])
    return open_ie_triples(docs)


# property path complements+ bounded at 3 hops (depth-bounded
# recursive CTE twin of the frontier BFS)
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        e AS (SELECT DISTINCT src AS s, dst AS o FROM edges),
        r(s, o, d) AS (
          SELECT s, o, 1 FROM e
          UNION ALL
          SELECT r.s, e.o, r.d + 1 FROM r JOIN e ON e.s = r.o
          WHERE r.d < 3)
        SELECT DISTINCT s AS subj, o AS obj FROM r
    """)
def kg_property_path(spark, sf):
    # SPARQL property path `complements+` bounded at 3 hops:
    # frontier BFS (per-round work proportional to NEW pairs —
    # the data-scale shape; the dimension-scale doubling closure
    # is deliberately not used here, see operators/bgp.py::
    # property_path). Oracle replays it as a depth-bounded
    # recursive CTE
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    return bgp.bgp_query(t, [("?x", "complements+", "?y")],
                         path_hops=3) \
        .select(F.col("x").alias("subj"), F.col("y").alias("obj"))


# path expression ^(hasColor|hasMaterial)/complements: the
# inverse-union arm is the attribute-triples slice read backwards,
# the sequence step one join on the shared item
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte}
        SELECT DISTINCT a.obj AS val, c.obj AS comp
        FROM tri a
        JOIN tri c ON c.subj = a.subj AND c.pred = 'complements'
        WHERE a.pred IN ('hasColor', 'hasMaterial')
    """)
def kg_path_expr(spark, sf):
    # SPARQL 1.1 path EXPRESSION ^(hasColor|hasMaterial)/complements
    # through the BGP compiler: inverse + alternation compile to
    # ONE union of two swapped predicate-pushed scans, the
    # sequence step to one equi-join on the intermediate item —
    # for every attribute value, what the items carrying it
    # complement. Oracle replays it as the join of the two
    # relational forms.
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    return bgp.bgp_query(
        t, [("?v", "^(hasColor|hasMaterial)/complements", "?y")]) \
        .select(F.col("v").alias("val"), F.col("y").alias("comp"))


# negated property set !(type|complements) joined with the type
# pattern: the anti-filtered scan IS the whole path step
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte}
        SELECT DISTINCT a.subj AS item, a.obj AS val,
               t.obj AS item_type
        FROM tri a
        JOIN tri t ON t.subj = a.subj AND t.pred = 'type'
        WHERE a.pred NOT IN ('type', 'complements')
    """)
def kg_path_negset(spark, sf):
    # SPARQL negated property set !(type|complements): one hop via
    # any OTHER predicate — compiles to a single anti-filtered
    # triple scan (NOT pred IN (...) pushes down like the positive
    # form), here joined with a plain type pattern so only item
    # subjects survive
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    return bgp.bgp_query(t, [("?x", "!(type|complements)", "?v"),
                             ("?x", "type", "?t")]) \
        .select(F.col("x").alias("item"), F.col("v").alias("val"),
                F.col("t").alias("item_type"))


# type-level quotient graph: both endpoint lookups against the
# catalog-sized type dimension, one (src_type, dst_type) rollup
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        ty AS (SELECT DISTINCT subj AS id, obj AS t
               FROM tri WHERE pred = 'type')
        SELECT ts.t AS src_type, td.t AS dst_type,
               count(*) AS n_edges,
               sum(e.weight)::BIGINT AS weight_mass
        FROM edges e
        JOIN ty ts ON ts.id = e.src
        JOIN ty td ON td.id = e.dst
        GROUP BY 1, 2
    """)
def kg_quotient_graph(spark, sf):
    # Graph summarization: collapse the item graph to its
    # TYPE-level quotient — supernodes = item types, superedges =
    # (src_type, dst_type) carrying edge count and weight mass.
    # The type dimension is catalog-sized (tiny next to edges at
    # 10^12 docs) so both lookups ride ONE broadcast; the only
    # shuffle is the final type-pair rollup, partial-aggregated
    # map-side into at most |types|^2 rows.
    w = _kg_world(spark, sf)
    ty = (w["triples"].filter(F.col("pred") == "type")
          .select(F.col("subj").cast("string").alias("id"),
                  F.col("obj").cast("string").alias("t"))
          .distinct())
    e = w["edges"].select(F.col("src").cast("string").alias("src"),
                          F.col("dst").cast("string").alias("dst"),
                          "weight")
    return (e
            .join(F.broadcast(ty.withColumnRenamed("id", "src")
                              .withColumnRenamed("t", "src_type")),
                  "src")
            .join(F.broadcast(ty.withColumnRenamed("id", "dst")
                              .withColumnRenamed("t", "dst_type")),
                  "dst")
            .groupBy("src_type", "dst_type")
            .agg(F.count("*").alias("n_edges"),
                 F.sum("weight").cast("long").alias("weight_mass")))


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        {truth_ctes}
        SELECT w.subj, w.pred, w.obj,
               w.score::DOUBLE / t.denom::DOUBLE AS confidence,
               w.n_sources::INT AS n_sources
        FROM win w JOIN tot t
          ON t.subj = w.subj AND t.pred = w.pred
        WHERE w.rn = 1
    """)
def kg_truth_discovery(spark, sf):
    # Knowledge fusion: 2-round truth discovery over conflicting
    # per-source claims (source = 16-way md5 bucket of the
    # observation doc — a deterministic stand-in for crawl hosts).
    # Round 1 is majority vote; round 2 re-weights by each
    # source's quantized accuracy against that consensus. Trust is
    # integer quanta, so vote sums are exact and the (score, obj)
    # tie-break is engine-portable; the oracle unrolls both
    # rounds. Claims stream is aggregated partial-agg'd; the trust
    # table is source-sized and broadcast.
    w = _kg_world(spark, sf)
    tr = (w["triples"]
          .filter((F.col("pred") != "complements")
                  & F.col("subj").cast("string").startswith("p"))
          .select(F.col("subj").cast("string").alias("subj"),
                  "pred",
                  F.col("obj").cast("string").alias("obj"),
                  F.col("doc_id").cast("string").alias("doc_id")))
    claims = tr.withColumn(
        "source",
        F.substring(F.md5(F.concat(F.lit("src:"),
                                   F.col("doc_id"))), 1, 1))
    return truth_discovery(claims, rounds=2)


# W3C direct mapping: one UNION ALL arm per mapped column / FK,
# printf for the money literal so the form is engine-portable
@query(oracle="""
        SELECT 'customer#' || c_custkey::VARCHAR AS subj,
               'customer#c_name' AS pred, c_name AS obj
        FROM customer WHERE c_name IS NOT NULL
        UNION ALL
        SELECT 'customer#' || c_custkey::VARCHAR,
               'customer#c_mktsegment', c_mktsegment
        FROM customer WHERE c_mktsegment IS NOT NULL
        UNION ALL
        SELECT 'customer#' || c_custkey::VARCHAR,
               'customer#c_acctbal', printf('%.2f', c_acctbal)
        FROM customer WHERE c_acctbal IS NOT NULL
        UNION ALL
        SELECT 'customer#' || c_custkey::VARCHAR,
               'customer#ref-c_nationkey',
               'nation#' || c_nationkey::VARCHAR
        FROM customer WHERE c_nationkey IS NOT NULL
        UNION ALL
        SELECT 'nation#' || n_nationkey::VARCHAR,
               'nation#n_name', n_name
        FROM nation WHERE n_name IS NOT NULL
        UNION ALL
        SELECT 'nation#' || n_nationkey::VARCHAR,
               'nation#ref-n_regionkey',
               'region#' || n_regionkey::VARCHAR
        FROM nation WHERE n_regionkey IS NOT NULL
        UNION ALL
        SELECT 'region#' || r_regionkey::VARCHAR,
               'region#r_name', r_name
        FROM region WHERE r_name IS NOT NULL
    """)
def kg_rdb_direct_map(spark, sf):
    # W3C direct mapping: lift the relational dims into the triple
    # space (row IRI <table#pk>, literal triples per column,
    # ref- triples per FK). Pure projection + explode — one scan
    # per table, zero shuffles; money columns use an explicit
    # printf format so the literal form is engine-portable.
    cust = direct_map(
        _load(spark, sf, "customer"), "customer", "c_custkey",
        ["c_name", "c_mktsegment", "c_acctbal"],
        {"c_nationkey": "nation"},
        formats={"c_acctbal": "%.2f"})
    nat = direct_map(
        _load(spark, sf, "nation"), "nation", "n_nationkey",
        ["n_name"], {"n_regionkey": "region"})
    reg = direct_map(
        _load(spark, sf, "region"), "region", "r_regionkey",
        ["r_name"])
    return cust.unionByName(nat).unionByName(reg)


# PRA features: per predicate, distinct shared values reachable
# as src -p-> v <-p- dst for the edge candidate pairs
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        pairs AS (SELECT DISTINCT src, dst FROM edges),
        tc AS (SELECT DISTINCT subj, obj FROM tri
               WHERE pred = 'hasColor'),
        tm AS (SELECT DISTINCT subj, obj FROM tri
               WHERE pred = 'hasMaterial'),
        ts AS (SELECT DISTINCT subj, obj FROM tri
               WHERE pred = 'hasStyle'),
        fc AS (SELECT p.src, p.dst, count(DISTINCT a.obj) AS f
               FROM pairs p JOIN tc a ON a.subj = p.src
               JOIN tc b ON b.subj = p.dst AND b.obj = a.obj
               GROUP BY 1, 2),
        fm AS (SELECT p.src, p.dst, count(DISTINCT a.obj) AS f
               FROM pairs p JOIN tm a ON a.subj = p.src
               JOIN tm b ON b.subj = p.dst AND b.obj = a.obj
               GROUP BY 1, 2),
        fs AS (SELECT p.src, p.dst, count(DISTINCT a.obj) AS f
               FROM pairs p JOIN ts a ON a.subj = p.src
               JOIN ts b ON b.subj = p.dst AND b.obj = a.obj
               GROUP BY 1, 2)
        SELECT p.src, p.dst,
               coalesce(fc.f, 0) AS f_color,
               coalesce(fm.f, 0) AS f_material,
               coalesce(fs.f, 0) AS f_style
        FROM pairs p
        LEFT JOIN fc ON fc.src = p.src AND fc.dst = p.dst
        LEFT JOIN fm ON fm.src = p.src AND fm.dst = p.dst
        LEFT JOIN fs ON fs.src = p.src AND fs.dst = p.dst
    """)
def kg_pra_features(spark, sf):
    # Path-Ranking-Algorithm features for the edge candidate
    # pairs: per predicate, distinct shared attribute values
    # reachable as src -p-> v <-p- dst. Predicate slices filter
    # before any join; path joins are keyed (entity, value) with
    # taxonomy-bounded fan-out.
    w = _kg_world(spark, sf)
    tri = (w["triples"]
           .select(F.col("subj").cast("string").alias("subj"),
                   "pred",
                   F.col("obj").cast("string").alias("obj"))
           .distinct())
    pairs = w["edges"].select("src", "dst").distinct()
    out = pra_path_features(pairs, tri,
                            ["hasColor", "hasMaterial",
                             "hasStyle"])
    return out.select(
        "src", "dst",
        F.col("f_hasColor").alias("f_color"),
        F.col("f_hasMaterial").alias("f_material"),
        F.col("f_hasStyle").alias("f_style"))


# WL refinement, 2 rounds unrolled: label_{i+1} =
# md5(label_i || '|' || sorted neighbor-label multiset)
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        ty AS (SELECT subj AS id, min(obj) AS lbl FROM tri
               WHERE pred = 'type' GROUP BY 1),
        sym AS (SELECT DISTINCT a, b FROM (
                  SELECT src AS a, dst AS b FROM edges
                  UNION ALL SELECT dst AS a, src AS b FROM edges) u),
        n1 AS (SELECT s.a, string_agg(t.lbl, ',' ORDER BY t.lbl)
                 AS sig
               FROM sym s JOIN ty t ON t.id = s.b GROUP BY 1),
        l1 AS (SELECT y.id,
                      md5(y.lbl || '|' || coalesce(n1.sig, ''))
                        AS lbl
               FROM ty y LEFT JOIN n1 ON n1.a = y.id),
        n2 AS (SELECT s.a, string_agg(t.lbl, ',' ORDER BY t.lbl)
                 AS sig
               FROM sym s JOIN l1 t ON t.id = s.b GROUP BY 1),
        l2 AS (SELECT y.id,
                      md5(y.lbl || '|' || coalesce(n2.sig, ''))
                        AS lbl
               FROM l1 y LEFT JOIN n2 ON n2.a = y.id)
        SELECT id, lbl AS wl FROM l2
    """)
def kg_wl_colors(spark, sf):
    # Weisfeiler-Lehman color refinement (2 rounds) over the
    # canonical co-occurrence graph, seeded with entity types:
    # nodes share a final color only if their 2-hop neighborhood
    # trees agree — the structural blocking signature. Each round
    # is one node-keyed join + one degree-bounded aggregation.
    w = _kg_world(spark, sf)
    ty = (w["triples"].filter(F.col("pred") == "type")
          .groupBy(F.col("subj").cast("string").alias("id"))
          .agg(F.min(F.col("obj").cast("string")).alias("label")))
    out = wl_refine(w["edges"].select("src", "dst"), ty,
                    iterations=2)
    return out.select("id", F.col("label").alias("wl"))


# domain/range induction: majority subject class per predicate
# (ties to smallest class), entity-vs-literal majority object kind
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        t AS (SELECT DISTINCT subj, pred, obj FROM tri
              WHERE pred != 'type'),
        ty AS (SELECT DISTINCT subj AS s, obj AS stype FROM tri
               WHERE pred = 'type'),
        dom AS (SELECT t.pred, ty.stype,
                       count(DISTINCT t.subj) AS n
                FROM t JOIN ty ON ty.s = t.subj GROUP BY 1, 2),
        dt AS (SELECT pred, stype AS domain_class,
                      n AS domain_support
               FROM (SELECT dom.*, row_number() OVER (
                       PARTITION BY pred
                       ORDER BY n DESC, stype ASC) AS rn FROM dom) x
               WHERE rn = 1),
        rng AS (SELECT pred,
                       sum(CASE WHEN regexp_matches(obj, '^p[0-9]')
                                THEN 1 ELSE 0 END) AS n_entity_obj,
                       count(*) AS n_triples,
                       count(DISTINCT obj) AS n_distinct_obj
                FROM t GROUP BY 1)
        SELECT dt.pred, dt.domain_class, dt.domain_support,
               CASE WHEN 2 * rng.n_entity_obj >= rng.n_triples
                    THEN 'entity' ELSE 'literal' END AS range_kind,
               rng.n_distinct_obj, rng.n_triples
        FROM dt JOIN rng ON rng.pred = dt.pred
    """)
def kg_domain_range(spark, sf):
    # Schema induction: per predicate, the majority subject class
    # (domain) and majority object kind (entity ref vs literal)
    # with support — inferred RDFS domain/range axioms. One
    # broadcast of the type dimension; rollups keyed by predicate.
    w = _kg_world(spark, sf)
    tri = (w["triples"]
           .select(F.col("subj").cast("string").alias("subj"),
                   "pred",
                   F.col("obj").cast("string").alias("obj")))
    return domain_range_profile(tri)


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        und AS (SELECT DISTINCT least(src, dst) AS a,
                       greatest(src, dst) AS b
                FROM edges WHERE src != dst),
        n2adj AS (SELECT a AS cur, b AS nxt FROM und
                  UNION ALL SELECT b AS cur, a AS nxt FROM und),
        f0 AS (SELECT DISTINCT cur AS walk_id, cur,
                      NULL::VARCHAR AS prev
               FROM n2adj),
        {n2v_steps}
        SELECT walk_id, 0 AS step, cur AS node FROM f0
        UNION ALL SELECT walk_id, 1, cur FROM f1
        UNION ALL SELECT walk_id, 2, cur FROM f2
        UNION ALL SELECT walk_id, 3, cur FROM f3
    """)
def kg_node2vec_walks(spark, sf):
    # Second-order biased walk corpus (node2vec p/q split) over
    # the canonical co-occurrence graph: 3 steps, return penalty
    # 4x, out-of-neighborhood penalty 2x, chosen by exact
    # integer scaled-hash argmin — reproducible across engines
    # and partitionings; the oracle unrolls the steps.
    w = _kg_world(spark, sf)
    return node2vec_walks(w["edges"].select("src", "dst"),
                          steps=3, p_mult=4, q_mult=2)


# entity summarization: exact-df ranking (ln(N/df) descending
# without the float), lexicographic tie-breaks
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        t AS (SELECT DISTINCT subj, pred, obj FROM tri
              WHERE subj LIKE 'p%'),
        dfq AS (SELECT pred, obj, count(DISTINCT subj) AS df
                FROM t GROUP BY 1, 2),
        r AS (SELECT t.subj, t.pred, t.obj, dfq.df,
                     row_number() OVER (
                       PARTITION BY t.subj
                       ORDER BY dfq.df ASC, t.pred ASC, t.obj ASC)
                       AS rank
              FROM t JOIN dfq
                ON dfq.pred = t.pred AND dfq.obj = t.obj)
        SELECT subj, rank::INT AS rank, pred, obj, df FROM r
        WHERE rank <= 3
    """)
def kg_entity_summary(spark, sf):
    # Entity summarization (LinkSUM/FACES-lite): top-3 most
    # informative facts per entity, ranked by exact (pred, obj)
    # document frequency ascending — the integer-exact equivalent
    # of ln(N/df) descending. Fact-vocabulary-sized df agg +
    # bounded per-entity window.
    w = _kg_world(spark, sf)
    tr = (w["triples"]
          .filter(F.col("subj").cast("string").startswith("p"))
          .select(F.col("subj").cast("string").alias("subj"),
                  "pred",
                  F.col("obj").cast("string").alias("obj")))
    return entity_summary(tr, k=3)


# SCD2 attribute history: per-day max-obj state, change points by
# lag, interval ends by lead (same md5 ingest clock as asof_state)
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        trd AS (SELECT subj::VARCHAR AS subj, pred,
                       obj::VARCHAR AS obj, doc_id::VARCHAR AS doc_id
                FROM ({attr_triples_doc_sql}) WHERE subj LIKE 'p%'),
        obs AS (SELECT subj, pred, obj,
                       ('0x' || substr(md5('day:' || doc_id), 1, 15))
                         ::BIGINT % 60 AS day
                FROM trd),
        st AS (SELECT subj, pred, day, max(obj) AS obj
               FROM obs GROUP BY 1, 2, 3),
        ch AS (SELECT * FROM (
                 SELECT st.*, lag(obj) OVER (
                   PARTITION BY subj, pred ORDER BY day) AS prev_obj
                 FROM st) x
               WHERE prev_obj IS NULL OR prev_obj != obj)
        SELECT subj, pred, obj,
               day::BIGINT AS valid_from,
               coalesce(lead(day) OVER (
                 PARTITION BY subj, pred ORDER BY day) - 1,
                 59)::BIGINT AS valid_to
        FROM ch
    """)
def kg_attr_history(spark, sf):
    # Temporal KG: SCD2-style change intervals per (entity, pred)
    # reconstructed from per-day observations (deterministic md5
    # ingest day, same clock as kg_asof_state). Per-day state is
    # one max_by agg; change points and interval ends are lag/
    # lead windows partitioned (subj, pred) — bounded by the day
    # range, never corpus-wide.
    w = _kg_world(spark, sf)
    tr = (w["triples"]
          .filter((F.col("pred") != "complements")
                  & F.col("subj").cast("string").startswith("p"))
          .select(F.col("subj").cast("string").alias("subj"),
                  "pred",
                  F.col("obj").cast("string").alias("obj"),
                  F.col("doc_id").cast("string").alias("doc_id")))
    day = (F.conv(F.substring(F.md5(F.concat(
        F.lit("day:"), F.col("doc_id"))), 1, 15), 16, 10)
        .cast("long") % F.lit(60))
    state = (tr.withColumn("day", day)
             .groupBy("subj", "pred", "day")
             .agg(F.max("obj").alias("obj")))
    wo = Window.partitionBy("subj", "pred").orderBy("day")
    chg = (state
           .withColumn("prev_obj", F.lag("obj").over(wo))
           .filter(F.col("prev_obj").isNull()
                   | (F.col("prev_obj") != F.col("obj")))
           .select("subj", "pred", "obj", "day"))
    wc = Window.partitionBy("subj", "pred").orderBy("day")
    return (chg
            .withColumn("valid_from", F.col("day"))
            .withColumn("valid_to",
                        F.coalesce(F.lead("day").over(wc) - 1,
                                   F.lit(59)))
            .select("subj", "pred", "obj",
                    F.col("valid_from").cast("long")
                    .alias("valid_from"),
                    F.col("valid_to").cast("long")
                    .alias("valid_to")))


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        rel0 AS (SELECT subj AS x, obj AS y FROM tri
                 WHERE pred = 'complements'),
        rel AS (SELECT DISTINCT x, y FROM (
                  SELECT x, y FROM rel0
                  UNION ALL SELECT y AS x, x AS y FROM rel0) u),
        {rule_ctes_sql}
        SELECT rule, n_body, n_pos, n_pca,
               n_pos::DOUBLE / n_body::DOUBLE AS std_conf,
               n_pos::DOUBLE / n_pca::DOUBLE AS pca_conf
        FROM ({rule_union}) rows_
    """)
def kg_rule_mining(spark, sf):
    # AMIE-style rule mining: support + standard/PCA confidence
    # for the propagation template p(x,v) & complements(x,y) =>
    # p(y,v), one row per attribute predicate. Exact integer
    # counts; confidences are single divisions at the end.
    w = _kg_world(spark, sf)
    tri = (w["triples"]
           .select(F.col("subj").cast("string").alias("subj"),
                   "pred",
                   F.col("obj").cast("string").alias("obj"))
           .distinct())
    return mine_propagation_rules(
        tri, "complements",
        ["hasColor", "hasMaterial", "hasStyle"])


# Neo4j admin-import export: node rows from the deduped node
# table, rel rows straight from the aggregated edges
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {nodes_cte}
        SELECT 'node' AS kind, product_id AS id, type AS label,
               NULL::VARCHAR AS start_id, NULL::VARCHAR AS end_id,
               NULL::VARCHAR AS rel_type, NULL::BIGINT AS weight,
               color
        FROM nodes
        UNION ALL
        SELECT 'rel', NULL, NULL, src, dst, rel_type,
               weight::BIGINT, NULL
        FROM edges
    """)
def kg_neo4j_export(spark, sf):
    # Bulk-import export in the Neo4j admin-import shape the
    # reference loads into (src/database/graph_database.py): one
    # unified frame with kind='node' rows (id, label, color) and
    # kind='rel' rows (start/end/type/weight). Pure projections +
    # union — scan-speed, no shuffle.
    w = _kg_world(spark, sf)
    nodes = (w["nodes"]
             .select(F.lit("node").alias("kind"),
                     F.col("product_id").alias("id"),
                     F.col("type").alias("label"),
                     F.lit(None).cast("string").alias("start_id"),
                     F.lit(None).cast("string").alias("end_id"),
                     F.lit(None).cast("string").alias("rel_type"),
                     F.lit(None).cast("long").alias("weight"),
                     F.col("color")))
    rels = (w["edges"]
            .select(F.lit("rel").alias("kind"),
                    F.lit(None).cast("string").alias("id"),
                    F.lit(None).cast("string").alias("label"),
                    F.col("src").alias("start_id"),
                    F.col("dst").alias("end_id"),
                    "rel_type",
                    F.col("weight").cast("long"),
                    F.lit(None).cast("string").alias("color")))
    return nodes.unionByName(rels)


# N-Triples dump: IRI object for entity relations, quoted
# literal otherwise
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte}
        SELECT '<urn:fkg:' || subj || '> <urn:fkg:' || pred || '> '
               || CASE WHEN pred = 'complements'
                       THEN '<urn:fkg:' || obj || '>'
                       ELSE '"' || obj || '"' END
               || ' .' AS ntriple
        FROM tri
    """)
def kg_ntriples(spark, sf):
    # N-Triples serialization of the KG: IRI objects for entity
    # relations, quoted literals for attribute values. One
    # projection over the distinct triple set — the RDF dump a
    # downstream triplestore ingests.
    w = _kg_world(spark, sf)
    t = (w["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj"))
         .distinct())
    o = (F.when(F.col("pred") == "complements",
                F.concat(F.lit("<urn:fkg:"), F.col("obj"),
                         F.lit(">")))
         .otherwise(F.concat(F.lit('"'), F.col("obj"),
                             F.lit('"'))))
    return t.select(F.concat(
        F.lit("<urn:fkg:"), F.col("subj"), F.lit("> <urn:fkg:"),
        F.col("pred"), F.lit("> "), o, F.lit(" ."))
        .alias("ntriple"))


# association rules: entity-keyed co-assertion self-join, exact
# counts, lift against the distinct asserting-entity total
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        t AS (SELECT DISTINCT subj AS s, pred AS p, obj AS v
              FROM tri
              WHERE subj LIKE 'p%'
                AND pred IN ('hasColor', 'hasMaterial',
                             'hasStyle', 'type')),
        nt AS (SELECT count(DISTINCT s) AS n FROM t),
        both_ AS (SELECT a.p AS pred_a, a.v AS val_a,
                         b.p AS pred_b, b.v AS val_b,
                         count(DISTINCT a.s) AS n_both
                  FROM t a JOIN t b
                    ON b.s = a.s AND a.p < b.p
                  GROUP BY 1, 2, 3, 4
                  HAVING count(DISTINCT a.s) >= 2),
        sup AS (SELECT p, v, count(DISTINCT s) AS n
                FROM t GROUP BY 1, 2)
        SELECT w.pred_a, w.val_a, w.pred_b, w.val_b,
               w.n_both, sa.n AS n_a, sb.n AS n_b,
               w.n_both::DOUBLE / sa.n::DOUBLE AS confidence,
               (w.n_both * nt.n)::DOUBLE
                 / (sa.n * sb.n)::DOUBLE AS lift
        FROM both_ w
        JOIN sup sa ON sa.p = w.pred_a AND sa.v = w.val_a
        JOIN sup sb ON sb.p = w.pred_b AND sb.v = w.val_b
        CROSS JOIN nt
    """)
def kg_attr_association(spark, sf):
    # Cross-attribute association rules with lift ("black goes
    # with leather"): exact co-assertion counts over the entity-
    # keyed self-join, vocabulary-sized support tables broadcast
    # back, confidence/lift as single float divisions.
    w = _kg_world(spark, sf)
    tri = (w["triples"]
           .filter(F.col("subj").cast("string").startswith("p"))
           .select(F.col("subj").cast("string").alias("subj"),
                   "pred",
                   F.col("obj").cast("string").alias("obj"))
           .distinct())
    return mine_value_associations(
        tri, ["hasColor", "hasMaterial", "hasStyle", "type"],
        min_support=2)


# source-reliability audit: claims vs round-1 majority consensus
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        trd AS (SELECT subj::VARCHAR AS subj, pred,
                       obj::VARCHAR AS obj, doc_id::VARCHAR AS doc_id
                FROM ({attr_triples_doc_sql}) WHERE subj LIKE 'p%'),
        claims AS (SELECT DISTINCT
                     substr(md5('src:' || doc_id), 1, 1) AS source,
                     subj, pred, obj
                   FROM trd),
        v0 AS (SELECT subj, pred, obj, count(*) AS score
               FROM claims GROUP BY 1, 2, 3),
        c0 AS (SELECT subj, pred, obj FROM (
                 SELECT v0.*, row_number() OVER (
                   PARTITION BY subj, pred
                   ORDER BY score DESC, obj DESC) AS rn FROM v0) x
               WHERE rn = 1)
        SELECT cl.source, count(*) AS n_claims,
               sum(CASE WHEN c.obj IS NOT NULL
                        THEN 1 ELSE 0 END)::BIGINT AS n_match,
               (1000000 * sum(CASE WHEN c.obj IS NOT NULL
                                   THEN 1 ELSE 0 END)::BIGINT)
                 // count(*) AS w
        FROM claims cl LEFT JOIN c0 c
          ON c.subj = cl.subj AND c.pred = cl.pred
         AND c.obj = cl.obj
        GROUP BY 1
    """)
def kg_source_reliability(spark, sf):
    # Provenance datasheet: per source bucket, claim count,
    # majority-consensus agreement and the quantized trust weight
    # — the audit row truth discovery consumes. Source-sized
    # output; claim stream aggregated once.
    w = _kg_world(spark, sf)
    tr = (w["triples"]
          .filter((F.col("pred") != "complements")
                  & F.col("subj").cast("string").startswith("p"))
          .select(F.col("subj").cast("string").alias("subj"),
                  "pred",
                  F.col("obj").cast("string").alias("obj"),
                  F.col("doc_id").cast("string").alias("doc_id")))
    claims = tr.withColumn(
        "source",
        F.substring(F.md5(F.concat(F.lit("src:"),
                                   F.col("doc_id"))), 1, 1))
    return source_reliability(claims)


# RDF-star statement annotations: one provenance rollup per
# asserted attribute triple (same md5 day/source derivations)
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        trd AS (SELECT subj::VARCHAR AS subj, pred,
                       obj::VARCHAR AS obj, doc_id::VARCHAR AS doc_id
                FROM ({attr_triples_doc_sql}) WHERE subj LIKE 'p%'),
        ann AS (SELECT subj, pred, obj,
                       count(DISTINCT doc_id) AS n_docs,
                       count(DISTINCT substr(md5('src:' || doc_id),
                                             1, 1)) AS n_sources,
                       min(('0x' || substr(md5('day:' || doc_id),
                                           1, 15))::BIGINT % 60)
                         AS first_day,
                       max(('0x' || substr(md5('day:' || doc_id),
                                           1, 15))::BIGINT % 60)
                         AS last_day
                FROM trd GROUP BY 1, 2, 3)
        SELECT md5(subj || ':' || pred || ':' || obj) AS stmt_id,
               subj, pred, obj, n_docs, n_sources,
               first_day, last_day
        FROM ann
    """)
def kg_rdfstar_annotations(spark, sf):
    # RDF-star / Wikidata-qualifier-style statement-level
    # provenance: one annotation row per asserted attribute
    # triple — content-addressed statement id, observation-doc
    # and source-bucket counts, first/last ingest day (same md5
    # clock as kg_asof_state). ONE partial-agg'd rollup keyed by
    # the triple; no windows, no self-joins.
    w = _kg_world(spark, sf)
    tr = (w["triples"]
          .filter((F.col("pred") != "complements")
                  & F.col("subj").cast("string").startswith("p"))
          .select(F.col("subj").cast("string").alias("subj"),
                  "pred",
                  F.col("obj").cast("string").alias("obj"),
                  F.col("doc_id").cast("string").alias("doc_id")))
    day = (F.conv(F.substring(F.md5(F.concat(
        F.lit("day:"), F.col("doc_id"))), 1, 15), 16, 10)
        .cast("long") % F.lit(60))
    src = F.substring(F.md5(F.concat(F.lit("src:"),
                                     F.col("doc_id"))), 1, 1)
    return (tr.withColumn("day", day).withColumn("source", src)
            .groupBy("subj", "pred", "obj")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.countDistinct("source").alias("n_sources"),
                 F.min("day").alias("first_day"),
                 F.max("day").alias("last_day"))
            .withColumn("stmt_id", F.md5(F.concat_ws(
                ":", F.col("subj"), F.col("pred"),
                F.col("obj"))))
            .select("stmt_id", "subj", "pred", "obj", "n_docs",
                    "n_sources", "first_day", "last_day"))


# constraint repair: functional-violation slots joined with the
# truth-discovery winner; drop set = sorted non-winner values
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        {truth_ctes},
        dis AS (SELECT DISTINCT subj, pred, obj FROM claims),
        nn AS (SELECT subj, pred, count(*) AS n_values
               FROM dis GROUP BY 1, 2 HAVING count(*) > 1),
        wnr AS (SELECT w.subj, w.pred, w.obj AS keep,
                       w.score::DOUBLE / t.denom::DOUBLE
                         AS confidence
                FROM win w JOIN tot t
                  ON t.subj = w.subj AND t.pred = w.pred
                WHERE w.rn = 1),
        dr AS (SELECT d.subj, d.pred,
                      string_agg(d.obj, ';' ORDER BY d.obj)
                        AS drop_set
               FROM dis d JOIN wnr
                 ON wnr.subj = d.subj AND wnr.pred = d.pred
                AND d.obj != wnr.keep
               GROUP BY 1, 2)
        SELECT n.subj, n.pred, w.keep, dr.drop_set,
               n.n_values::INT AS n_values, w.confidence
        FROM nn n
        JOIN wnr w ON w.subj = n.subj AND w.pred = n.pred
        JOIN dr ON dr.subj = n.subj AND dr.pred = n.pred
    """)
def kg_repair_suggestions(spark, sf):
    # Constraint repair, closing the SHACL→fusion loop: for every
    # functional-property violation (one entity asserting >1
    # value), the truth-discovery winner to KEEP and the sorted
    # set to DROP, with the fused confidence. Violation slots are
    # one rollup keyed (subj, pred); the repair join rides the
    # same key.
    w = _kg_world(spark, sf)
    tr = (w["triples"]
          .filter((F.col("pred") != "complements")
                  & F.col("subj").cast("string").startswith("p"))
          .select(F.col("subj").cast("string").alias("subj"),
                  "pred",
                  F.col("obj").cast("string").alias("obj"),
                  F.col("doc_id").cast("string").alias("doc_id")))
    claims = tr.withColumn(
        "source",
        F.substring(F.md5(F.concat(F.lit("src:"),
                                   F.col("doc_id"))), 1, 1))
    td = truth_discovery(claims, rounds=2)
    slots = (claims.select("subj", "pred", "obj").distinct()
             .groupBy("subj", "pred")
             .agg(F.countDistinct("obj").alias("n_values"),
                  F.array_sort(F.collect_set("obj"))
                  .alias("vals"))
             .filter(F.col("n_values") > 1))
    return (slots.join(td, ["subj", "pred"])
            .select("subj", "pred",
                    F.col("obj").alias("keep"),
                    F.concat_ws(";", F.expr(
                        "filter(vals, v -> v != obj)"))
                    .alias("drop_set"),
                    F.col("n_values").cast("int")
                    .alias("n_values"),
                    "confidence"))


# meta-blocking: CBS weights over the purged block collection,
# WEP pruning at the global mean edge weight
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        mem AS (
          SELECT DISTINCT block, id FROM (
            SELECT 'tc:' || type || ':' || color AS block,
                   product_id AS id FROM cat
            WHERE type IS NOT NULL AND color IS NOT NULL
            UNION ALL
            SELECT 'tg:' || type || ':' || gender,
                   product_id FROM cat
            WHERE type IS NOT NULL AND gender IS NOT NULL
            UNION ALL
            SELECT 'cf:' || color || ':' || fit,
                   product_id FROM cat
            WHERE color IS NOT NULL AND fit IS NOT NULL) u),
        ok AS (SELECT block FROM mem GROUP BY 1
               HAVING count(*) <= 50),
        mk AS (SELECT m.block, m.id FROM mem m
               JOIN ok ON ok.block = m.block),
        mbp AS (SELECT a.id AS id_a, b.id AS id_b,
                       count(*) AS w
                FROM mk a JOIN mk b
                  ON b.block = a.block AND a.id < b.id
                GROUP BY 1, 2),
        mw AS (SELECT avg(w) AS mw FROM mbp)
        SELECT p.id_a, p.id_b, p.w
        FROM mbp p CROSS JOIN mw
        WHERE p.w >= mw.mw
    """)
def er_meta_blocking(spark, sf):
    # Meta-blocking over a redundancy-positive blocking collection
    # (three composite catalog keys): CBS pair weights, oversized
    # blocks purged at 50, WEP mean-weight pruning. The candidate
    # graph is block-size-bounded; the threshold is a 1-row
    # broadcast.
    cat = _kg_world(spark, sf)["catalog"]
    arms = [
        (("type", "color"),
         F.concat_ws(":", F.lit("tc"), "type", "color")),
        (("type", "gender"),
         F.concat_ws(":", F.lit("tg"), "type", "gender")),
        (("color", "fit"),
         F.concat_ws(":", F.lit("cf"), "color", "fit")),
    ]
    mem = None
    for cols, k in arms:
        part = cat
        for c in cols:
            part = part.filter(F.col(c).isNotNull())
        part = part.select(k.alias("block"),
                           F.col("product_id").alias("id"))
        mem = part if mem is None else mem.unionByName(part)
    return meta_blocking(mem, max_block_size=50)


# pairwise clustering eval from contingency counts
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        m AS (SELECT c.product_id, c.canonical_id, k.entity_key
              FROM canon c JOIN cat k
                ON k.product_id = c.product_id),
        cell AS (SELECT sum((n * (n - 1)) // 2)::BIGINT AS tp FROM (
                   SELECT count(*) AS n FROM m
                   GROUP BY canonical_id, entity_key) x),
        sp AS (SELECT sum((n * (n - 1)) // 2)::BIGINT AS sys_pairs
               FROM (SELECT count(*) AS n FROM m
                     GROUP BY canonical_id) x),
        tr AS (SELECT sum((n * (n - 1)) // 2)::BIGINT AS true_pairs
               FROM (SELECT count(*) AS n FROM m
                     GROUP BY entity_key) x)
        SELECT cell.tp, sp.sys_pairs, tr.true_pairs,
               cell.tp::DOUBLE / sp.sys_pairs::DOUBLE
                 AS "precision",
               cell.tp::DOUBLE / tr.true_pairs::DOUBLE AS recall,
               2.0 * cell.tp::DOUBLE
                 / (sp.sys_pairs + tr.true_pairs)::DOUBLE AS f1
        FROM cell CROSS JOIN sp CROSS JOIN tr
    """)
def er_canonical_eval(spark, sf):
    # Canonicalization quality vs the generator's ground truth
    # (catalog.entity_key): pairwise precision/recall/F1 from
    # CONTINGENCY COUNTS — TP/FP/FN derived from per-cluster and
    # per-cell sizes (Σ n·(n−1)/2), candidate pairs never
    # materialized; the only shuffles are three cluster-keyed
    # rollups, the at-scale shape for clustering eval.
    w = _kg_world(spark, sf)
    m = (w["canonical"]
         .join(w["catalog"].select("product_id", "entity_key"),
               "product_id")
         .select("product_id", "canonical_id", "entity_key"))

    def npairs(col):
        # integer div: exact at any cluster size (n*(n-1) even)
        return F.sum(F.expr("n * (n - 1) div 2").cast("long"))

    cell = (m.groupBy("canonical_id", "entity_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(npairs("n").alias("tp")))
    sys_ = (m.groupBy("canonical_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(npairs("n").alias("sys_pairs")))
    tru = (m.groupBy("entity_key")
           .agg(F.count(F.lit(1)).alias("n"))
           .agg(npairs("n").alias("true_pairs")))
    return (cell.crossJoin(sys_).crossJoin(tru)
            .select(
                "tp", "sys_pairs", "true_pairs",
                (F.col("tp").cast("double")
                 / F.col("sys_pairs").cast("double"))
                .alias("precision"),
                (F.col("tp").cast("double")
                 / F.col("true_pairs").cast("double"))
                .alias("recall"),
                (F.lit(2.0) * F.col("tp").cast("double")
                 / (F.col("sys_pairs")
                    + F.col("true_pairs")).cast("double"))
                .alias("f1")))


# linking accuracy vs the media_ref-encoded true entity
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        sp AS (SELECT doc_id,
                      generate_subscripts(spans, 1) - 1 AS span_idx,
                      (unnest(spans)).kind AS kind,
                      (unnest(spans)).media_ref AS mr
               FROM read_parquet('{world.docs_glob}')),
        spi AS (SELECT doc_id, span_idx,
                       substr(mr, 7, 11) AS true_key
                FROM sp WHERE kind = 'image_ref' AND mr IS NOT NULL),
        j AS (SELECT l.doc_id, k.entity_key, s.true_key
              FROM linked l
              JOIN spi s ON s.doc_id = l.doc_id
               AND s.span_idx = l.span_idx
              JOIN cat k ON k.product_id = l.product_id)
        SELECT count(*) AS n_mentions,
               sum((entity_key = true_key)::INT)::BIGINT
                 AS n_correct,
               count(DISTINCT doc_id) AS n_docs,
               sum((entity_key = true_key)::INT)::DOUBLE
                 / count(*)::DOUBLE AS accuracy
    FROM j
    """)
def kg_linking_accuracy(spark, sf):
    # Entity-linking accuracy vs the interleave generator's
    # ground truth: each image span's media_ref encodes its true
    # entity key — a mention is linked correctly iff the matched
    # catalog product carries that entity_key. One span join on
    # (doc_id, span_idx) + one broadcast of the catalog key map;
    # exact counts, one division.
    w = _kg_world(spark, sf)
    sp = (explode_spans(w["docs"])
          .filter((F.col("kind") == "image_ref")
                  & F.col("media_ref").isNotNull())
          .select(F.col("doc_id").cast("string").alias("doc_id"),
                  "span_idx",
                  F.substring("media_ref", 7, 11)
                  .alias("true_key")))
    lk = w["linked"].select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "span_idx", "product_id")
    cat = w["catalog"].select("product_id", "entity_key")
    j = (lk.join(sp, ["doc_id", "span_idx"])
         .join(F.broadcast(cat), "product_id"))
    return (j.agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.sum((F.col("entity_key") == F.col("true_key"))
              .cast("long")).alias("n_correct"),
        F.countDistinct("doc_id").alias("n_docs"))
        .select("n_mentions", "n_correct", "n_docs",
                (F.col("n_correct").cast("double")
                 / F.col("n_mentions").cast("double"))
                .alias("accuracy")))


# GraphSAGE layered sampling, fanouts (3, 2), md5-ranked choice
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        und AS (SELECT DISTINCT least(src, dst) AS a,
                       greatest(src, dst) AS b
                FROM edges WHERE src != dst),
        nsadj AS (SELECT a AS cur, b AS nxt FROM und
                  UNION ALL SELECT b AS cur, a AS nxt FROM und),
        f0 AS (SELECT DISTINCT cur AS seed, cur FROM nsadj),
        c1 AS (SELECT f.seed, f.cur, a.nxt,
                      md5('ns:' || f.seed || ':1:' || f.cur || ':'
                          || a.nxt) AS rk
               FROM f0 f JOIN nsadj a ON a.cur = f.cur),
        p1 AS (SELECT DISTINCT seed, nxt AS node FROM (
                 SELECT c1.*, row_number() OVER (
                   PARTITION BY seed, cur ORDER BY rk) AS rn
                 FROM c1) x WHERE rn <= 3),
        c2 AS (SELECT f.seed, f.node AS cur, a.nxt,
                      md5('ns:' || f.seed || ':2:' || f.node || ':'
                          || a.nxt) AS rk
               FROM p1 f JOIN nsadj a ON a.cur = f.node),
        p2 AS (SELECT DISTINCT seed, nxt AS node FROM (
                 SELECT c2.*, row_number() OVER (
                   PARTITION BY seed, cur ORDER BY rk) AS rn
                 FROM c2) x WHERE rn <= 2)
        SELECT seed, 0 AS layer, cur AS node FROM f0
        UNION ALL SELECT seed, 1, node FROM p1
        UNION ALL SELECT seed, 2, node FROM p2
    """)
def kg_graphsage_sample(spark, sf):
    # GraphSAGE-style layered neighbor sampling (fanouts 3, 2)
    # over the canonical graph: deterministic md5-ranked
    # neighbor choice per (seed, node), degree-bounded window
    # partitions — the reproducible GNN minibatch prep.
    w = _kg_world(spark, sf)
    return neighbor_sample(w["edges"].select("src", "dst"),
                           fanouts=[3, 2])


# point-in-time attribute state: max observation day <= T per
# (subj, pred), then the max obj among that day's observations —
# the join-back formulation of the Spark side's single max_by
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        at AS ({attr_triples_doc_sql}),
        obs AS (
          SELECT subj, pred, obj,
                 ('0x' || substr(md5('day:' ||
                    CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 60
                   AS day
          FROM at),
        m AS (SELECT subj, pred, max(day) AS as_of_day
              FROM obs WHERE day <= 40 GROUP BY 1, 2)
        SELECT o.subj, o.pred, max(o.obj) AS obj, m.as_of_day
        FROM obs o
        JOIN m ON m.subj = o.subj AND m.pred = o.pred
              AND o.day = m.as_of_day
        GROUP BY o.subj, o.pred, m.as_of_day
    """)
def kg_asof_state(spark, sf):
    # Temporal KG: point-in-time attribute state. A deterministic
    # md5 day (0..59) per observation doc plays ingest time; the
    # state of (entity, pred) as of day T=40 is the latest
    # observation at or before T, same-day ties broken by max obj
    # — ONE max_by aggregation keyed (subj, pred), partial-agg'd
    # map-side, never a corpus-wide window sort. The oracle
    # replays it in the two-step max-day + join-back formulation,
    # a cross-FORMULATION check.
    w = _kg_world(spark, sf)
    tr = (w["triples"]
          .filter((F.col("pred") != "complements")
                  & F.col("subj").cast("string").startswith("p"))
          .select(F.col("subj").cast("string").alias("subj"),
                  "pred",
                  F.col("obj").cast("string").alias("obj"),
                  F.col("doc_id").cast("string").alias("doc_id")))
    day = (F.conv(F.substring(F.md5(F.concat(
        F.lit("day:"), F.col("doc_id"))), 1, 15), 16, 10)
        .cast("long") % F.lit(60))
    obs = tr.withColumn("day", day).filter(F.col("day") <= 40)
    return (obs.groupBy("subj", "pred")
            .agg(F.max_by("obj", F.struct(F.col("day"),
                                          F.col("obj"))).alias("obj"),
                 F.max("day").alias("as_of_day")))


# DESCRIBE: sorted (pred=obj) packing per product-subject triple
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte}
        SELECT subj,
               string_agg(pred || '=' || obj, ';'
                          ORDER BY pred || '=' || obj) AS profile,
               count(DISTINCT pred) AS n_preds
        FROM tri WHERE subj LIKE 'p%'
        GROUP BY subj
    """)
def kg_describe(spark, sf):
    # SPARQL DESCRIBE: one deterministic profile row per entity —
    # every (pred, obj) the KG asserts about it, sorted and packed
    # into a single string (sorted packing rather than a JSON map
    # so equality is well-defined across engines). ONE (subj)-keyed
    # aggregation over the distinct triple set; the profile string
    # is catalog-sized, never doc-sized.
    w = _kg_world(spark, sf)
    tr = (w["triples"]
          .filter(F.col("subj").cast("string").startswith("p"))
          .select(F.col("subj").cast("string").alias("subj"),
                  "pred",
                  F.col("obj").cast("string").alias("obj"))
          .distinct())
    return (tr.withColumn("po", F.concat_ws("=", "pred", "obj"))
            .groupBy("subj")
            .agg(F.concat_ws(
                ";", F.array_sort(F.collect_list("po")))
                .alias("profile"),
                F.countDistinct("pred").alias("n_preds")))


# KG evolution diff: old edges re-aggregated from the md5-split
# prs slice, full-outer joined against the full edges rollup
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        old_e AS (
          SELECT src, dst, rel_type, count(*) AS old_weight
          FROM prs
          WHERE ('0x' || substr(md5('sp:' ||
                   CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 < 7
          GROUP BY 1, 2, 3),
        d AS (
          SELECT coalesce(n.src, o.src) AS src,
                 coalesce(n.dst, o.dst) AS dst,
                 coalesce(n.rel_type, o.rel_type) AS rel_type,
                 coalesce(o.old_weight, 0) AS old_weight,
                 coalesce(n.weight, 0) AS new_weight
          FROM old_e o
          FULL OUTER JOIN edges n
            ON n.src = o.src AND n.dst = o.dst
           AND n.rel_type = o.rel_type)
        SELECT src, dst, rel_type, old_weight, new_weight,
               new_weight - old_weight AS delta,
               CASE WHEN old_weight = 0 THEN 'added'
                    WHEN new_weight - old_weight > 0 THEN 'grown'
                    WHEN new_weight - old_weight < 0 THEN 'shrunk'
                    ELSE 'unchanged' END AS status
        FROM d
    """)
def kg_graph_diff(spark, sf):
    # KG evolution report: full outer join of the committed edge
    # set (edges aggregated over the ~70% "old" corpus, portable
    # md5 doc split) against the current full edge set, each edge
    # classified added / grown / unchanged with its weight delta —
    # the change audit a nightly KG rebuild publishes next to its
    # tables. Two partial-agg'd rollups + ONE (src,dst,rel_type)
    # join; nothing is re-read per class.
    out = _kg_world(spark, sf)
    narrow = out["linked"].select("doc_id", "span_idx",
                                  "product_id", "category")
    lc = cc.canonicalize(narrow, out["canonical"], ["product_id"])
    split = (F.conv(F.substring(F.md5(F.concat(
        F.lit("sp:"), F.col("doc_id").cast("string"))), 1, 15),
        16, 10).cast("long") % F.lit(10))
    old = (ed.aggregate_edges(ed.cooccurrence_pairs(
        lc.filter(split < 7)))
        .select("src", "dst", "rel_type",
                F.col("weight").alias("old_weight")))
    new = out["edges"].select("src", "dst", "rel_type",
                              F.col("weight").alias("new_weight"))
    keys = ["src", "dst", "rel_type"]
    return (old.join(new, keys, "full_outer")
            .select(*keys,
                    F.coalesce("old_weight", F.lit(0))
                    .alias("old_weight"),
                    F.coalesce("new_weight", F.lit(0))
                    .alias("new_weight"))
            .withColumn("delta",
                        F.col("new_weight") - F.col("old_weight"))
            .withColumn("status",
                        F.when(F.col("old_weight") == 0, "added")
                        .when(F.col("delta") > 0, "grown")
                        .when(F.col("delta") < 0, "shrunk")
                        .otherwise("unchanged")))


# per-class predicate coverage: entity-distinct assertions joined
# to the type map, exact double ratio over the per-type totals
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        ty AS (SELECT DISTINCT subj, obj AS etype
               FROM tri WHERE pred = 'type'),
        tot AS (SELECT etype, count(DISTINCT subj) AS n_entities
                FROM ty GROUP BY 1),
        pp AS (SELECT DISTINCT t.subj, t.pred FROM tri t
               WHERE t.subj LIKE 'p%'),
        cov AS (SELECT y.etype, p.pred,
                       count(DISTINCT p.subj) AS n_with
                FROM pp p JOIN ty y ON y.subj = p.subj
                GROUP BY 1, 2)
        SELECT c.etype, c.pred, c.n_with, t.n_entities,
               c.n_with::DOUBLE / t.n_entities AS coverage
        FROM cov c JOIN tot t ON t.etype = c.etype
    """)
def kg_predicate_coverage(spark, sf):
    # KB completeness profile (LOD-stats style): per (entity type,
    # predicate), how many entities of that type assert it and the
    # exact coverage ratio — the report that tells a KB curator
    # which attribute extractors are underperforming per class.
    # Entity-distinct triple set -> one broadcast of the type map
    # -> one (type, pred) rollup + a type-sized totals join.
    w = _kg_world(spark, sf)
    tr = (w["triples"]
          .filter(F.col("subj").cast("string").startswith("p"))
          .select(F.col("subj").cast("string").alias("subj"),
                  "pred")
          .distinct())
    ty = (w["triples"].filter(F.col("pred") == "type")
          .select(F.col("subj").cast("string").alias("subj"),
                  F.col("obj").cast("string").alias("etype"))
          .distinct())
    totals = ty.groupBy("etype").agg(
        F.countDistinct("subj").alias("n_entities"))
    cov = (tr.join(F.broadcast(ty), "subj")
           .groupBy("etype", "pred")
           .agg(F.countDistinct("subj").alias("n_with")))
    return (cov.join(F.broadcast(totals), "etype")
            .select("etype", "pred", "n_with", "n_entities",
                    (F.col("n_with") / F.col("n_entities"))
                    .alias("coverage")))


# sameAs merge audit: member attrs from the catalog joined through
# the canonical mapping, per-group sorted value sets + conflicts
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        mem AS (SELECT c.canonical_id, c.product_id,
                       k.type, k.color, k.price
                FROM canon c JOIN cat k
                  ON k.product_id = c.product_id),
        g AS (SELECT canonical_id,
                     count(DISTINCT product_id) AS n_members,
                     string_agg(DISTINCT type, ';' ORDER BY type)
                       AS type_set,
                     string_agg(DISTINCT color, ';' ORDER BY color)
                       AS color_set,
                     string_agg(DISTINCT price, ';' ORDER BY price)
                       AS price_set,
                     (count(DISTINCT type) > 1)::INT
                       + (count(DISTINCT color) > 1)::INT
                       + (count(DISTINCT price) > 1)::INT
                       AS n_conflicts
              FROM mem GROUP BY 1)
        SELECT * FROM g WHERE n_members > 1
    """)
def kg_sameas_fusion(spark, sf):
    # Entity-fusion audit (the owl:sameAs merge report): for every
    # canonical group that actually merged >1 catalog item, the
    # fused per-attribute value sets (sorted packing) and how many
    # attributes carry CONFLICTING values — what a curator reviews
    # before trusting a merge. One catalog-sized join + one
    # (canonical_id)-keyed aggregation; nothing doc-sized.
    w = _kg_world(spark, sf)
    mem = (w["canonical"]
           .join(w["catalog"].select("product_id", "type",
                                     "color", "price"),
                 "product_id"))
    packed = [F.concat_ws(";", F.array_sort(F.array_distinct(
        F.collect_list(c)))).alias(f"{c}_set")
        for c in ("type", "color", "price")]
    conflicts = sum(
        (F.countDistinct(c) > 1).cast("int")
        for c in ("type", "color", "price")).alias("n_conflicts")
    return (mem.groupBy("canonical_id")
            .agg(F.countDistinct("product_id").alias("n_members"),
                 *packed, conflicts)
            .filter(F.col("n_members") > 1))


# ontology rollup: value→ancestor map = closure ∪ identity, then
# one distinct-entity count per (pred, class)
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        {hier_ctes},
        nodes AS (SELECT child AS v FROM hier
                  UNION SELECT parent FROM hier),
        amap AS (SELECT DISTINCT child, parent FROM reach2
                 UNION SELECT v, v FROM nodes),
        tr AS (SELECT DISTINCT subj, pred, obj FROM tri
               WHERE subj LIKE 'p%'
                 AND pred IN ('hasColor', 'hasMaterial'))
        SELECT t.pred, a.parent AS cls,
               count(DISTINCT t.subj) AS n_entities
        FROM tr t JOIN amap a ON a.child = t.obj
        GROUP BY 1, 2
    """)
def kg_taxonomy_rollup(spark, sf):
    # Ontology rollup: entity counts aggregated UP the class
    # hierarchy — for each (pred, class incl. ancestors), how many
    # entities assert a value at or under it. The value→ancestor
    # map is the taxonomy closure ∪ identity, dimension-sized and
    # BROADCAST; the triple stream is map-joined once and the only
    # shuffle is the (pred, class) rollup.
    w = _kg_world(spark, sf)
    tr = (w["triples"]
          .filter(F.col("subj").cast("string").startswith("p")
                  & F.col("pred").isin("hasColor", "hasMaterial"))
          .select(F.col("subj").cast("string").alias("subj"),
                  "pred",
                  F.col("obj").cast("string").alias("obj"))
          .distinct())
    hd = onto.hierarchy_df(spark)
    clo = (onto.transitive_closure(hd)
           .select("child", "parent").distinct())
    nodes = (hd.select("child")
             .union(hd.select(F.col("parent").alias("child")))
             .distinct())
    amap = clo.unionByName(
        nodes.select("child", F.col("child").alias("parent")))
    return (tr.join(F.broadcast(amap),
                    tr["obj"] == amap["child"])
            .groupBy("pred", F.col("parent").alias("cls"))
            .agg(F.countDistinct("subj").alias("n_entities")))


# forward-chain fixpoint in closed form: this rule set's closure
# is exactly closure(subClassOf) + the two typing arms + the
# complements flip — derived predicates never feed rule bodies
# except subClassOf, whose recursion the CTE replays
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        {hier_ctes}
        SELECT DISTINCT subj, pred, obj FROM (
          SELECT subj, pred, obj FROM tri
          UNION ALL
          SELECT child AS subj, 'subClassOf' AS pred, parent AS obj
          FROM reach2
          UNION ALL
          SELECT t.subj, 'hasColorClass' AS pred, r.parent AS obj
          FROM tri t JOIN reach2 r ON r.child = t.obj
          WHERE t.pred = 'hasColor'
          UNION ALL
          SELECT t.subj, 'hasMaterialClass' AS pred, r.parent AS obj
          FROM tri t JOIN reach2 r ON r.child = t.obj
          WHERE t.pred = 'hasMaterial'
          UNION ALL
          SELECT obj AS subj, 'complements' AS pred, subj AS obj
          FROM tri WHERE pred = 'complements') u
    """)
def kg_forward_chain(spark, sf):
    # Datalog-lite forward chaining (operators/rules.py): the KG
    # triples plus the taxonomy hierarchy as subClassOf triples,
    # closed under four rules — subClassOf transitivity, color and
    # material class typing, and complements symmetry. The oracle
    # replays the fixpoint in closed form (recursive-CTE closure +
    # one arm per rule head), so the engine's convergence itself
    # is hash-checked
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    hier = spark.createDataFrame(
        [(c, "subClassOf", p) for c, p in ktx.hierarchy_edges()],
        "subj string, pred string, obj string")
    return forward_chain(t.unionByName(hier), [
        ([("?a", "subClassOf", "?b"), ("?b", "subClassOf", "?c")],
         [("?a", "subClassOf", "?c")]),
        ([("?x", "hasColor", "?c"), ("?c", "subClassOf", "?g")],
         [("?x", "hasColorClass", "?g")]),
        ([("?x", "hasMaterial", "?m"), ("?m", "subClassOf", "?g")],
         [("?x", "hasMaterialClass", "?g")]),
        ([("?a", "complements", "?b")],
         [("?b", "complements", "?a")]),
    ])


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.ie_ctes},
        it AS (SELECT inst, obj AS t FROM okh WHERE pred = 'type'),
        ic AS (SELECT inst, obj AS c FROM okh WHERE pred = 'hasColor'),
        cand AS (SELECT it.inst, k.product_id, k.material, k.style
                 FROM it JOIN cat k ON k.type = it.t
                 JOIN ic ON ic.inst = it.inst AND ic.c = k.color),
        im AS (SELECT inst, obj AS m FROM okh
               WHERE pred = 'hasMaterial'),
        ist AS (SELECT inst, obj AS st FROM okh
                WHERE pred = 'hasStyle'),
        ms AS (SELECT cand.inst, cand.product_id,
                      count(DISTINCT im.m) AS n
               FROM cand JOIN im ON im.inst = cand.inst
                AND list_contains(cand.material, im.m)
               GROUP BY 1, 2),
        ss AS (SELECT cand.inst, cand.product_id,
                      count(DISTINCT ist.st) AS n
               FROM cand JOIN ist ON ist.inst = cand.inst
                AND list_contains(cand.style, ist.st)
               GROUP BY 1, 2),
        scored AS (SELECT cand.inst, cand.product_id,
                          (coalesce(ms.n, 0) + coalesce(ss.n, 0))
                            AS score
                   FROM cand
                   LEFT JOIN ms ON ms.inst = cand.inst
                    AND ms.product_id = cand.product_id
                   LEFT JOIN ss ON ss.inst = cand.inst
                    AND ss.product_id = cand.product_id)
        SELECT inst AS subj, product_id, CAST(score AS INT) AS score
        FROM (SELECT *, row_number() OVER (
                PARTITION BY inst
                ORDER BY score DESC, product_id ASC) AS rn
              FROM scored) z
        WHERE rn = 1
    """)
def kg_open_ie_link(spark, sf):
    # Ground span instances to catalog entities: (type, color)
    # equi-join candidates, material/style-overlap scoring in the
    # join projection, deterministic top-1 per instance
    # (operators/attributes.py::link_open_ie — the relational twin
    # of the reference's metadata-filtered vector queries)
    world = _kg_world(spark, sf)
    docs = spark.read.parquet(_kg_paths(sf)["ie_docs"])
    return link_open_ie(open_ie_triples(docs), world["catalog"])


# BGP negation: NOT EXISTS anti-join replay
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte}
        SELECT DISTINCT e.subj AS x, t.obj AS t
        FROM tri e
        JOIN tri t ON t.subj = e.subj AND t.pred = 'type'
        WHERE e.pred = 'complements'
          AND NOT EXISTS (SELECT 1 FROM tri n
                          WHERE n.subj = e.subj
                            AND n.pred = 'hasStyle'
                            AND n.obj = 'formal')
    """)
def kg_bgp_negation(spark, sf):
    # FILTER NOT EXISTS through the BGP compiler: items that
    # complement something and whose style set lacks 'formal' —
    # the negated arm anti-joins on the shared variable
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    return bgp.bgp_query(
        t,
        [("?x", "complements", "?y"), ("?x", "type", "?t")],
        negations=[("?x", "hasStyle", "formal")]) \
        .select("x", "t").distinct()


# BGP aggregation: GROUP BY / HAVING over the solution set
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        sol AS (
          SELECT DISTINCT e.subj AS a, e.obj AS b, s1.obj AS s
          FROM tri e
          JOIN tri s1 ON s1.pred = 'hasStyle' AND s1.subj = e.subj
          JOIN tri s2 ON s2.pred = 'hasStyle' AND s2.subj = e.obj
                     AND s2.obj = s1.obj
          WHERE e.pred = 'complements')
        SELECT s, count(*) AS n_pairs,
               count(DISTINCT a) AS n_items
        FROM sol GROUP BY s HAVING count(*) >= 2
    """)
def kg_bgp_aggregate(spark, sf):
    # SPARQL GROUP BY / HAVING through the BGP compiler: per
    # style, the number of complement pairs sharing it and the
    # distinct first items — one hash aggregation (map-side
    # partial) over the compiled pattern's solution set
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    return bgp.bgp_aggregate(
        t,
        [("?a", "complements", "?b"),
         ("?a", "hasStyle", "?s"), ("?b", "hasStyle", "?s")],
        group_by=["?s"],
        aggs={"n_pairs": F.count(F.lit(1)).cast("long"),
              "n_items": F.countDistinct("a").cast("long")},
        having=F.col("n_pairs") >= 2)


# BGP ORDER BY/LIMIT: total-order top-3 styles by pair count
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        sol AS (
          SELECT DISTINCT e.subj AS a, e.obj AS b, s1.obj AS s
          FROM tri e
          JOIN tri s1 ON s1.pred = 'hasStyle' AND s1.subj = e.subj
          JOIN tri s2 ON s2.pred = 'hasStyle' AND s2.subj = e.obj
                     AND s2.obj = s1.obj
          WHERE e.pred = 'complements')
        SELECT s, count(*) AS n_pairs
        FROM sol GROUP BY s
        ORDER BY n_pairs DESC, s ASC LIMIT 3
    """)
def kg_bgp_topk(spark, sf):
    # SPARQL ORDER BY ... LIMIT over a grouped BGP: top-3 styles
    # by complement-pair count (style tiebreak makes the order
    # total). Compiles to TakeOrderedAndProject — per-partition
    # k-row heaps, never a global sort (test_bgp pins the plan)
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    return bgp.bgp_topk(
        t,
        [("?a", "complements", "?b"),
         ("?a", "hasStyle", "?s"), ("?b", "hasStyle", "?s")],
        group_by=["?s"],
        aggs={"n_pairs": F.count(F.lit(1)).cast("long")},
        order_by=[F.desc("n_pairs"), "?s"], k=3)


# BGP VALUES: inline (style, color) seed relation
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        vals(s, c) AS (VALUES ('party', 'black'),
                              ('casual', 'red'),
                              ('formal', 'white'))
        SELECT DISTINCT e.subj AS a, e.obj AS b, st.obj AS s,
               co.obj AS c
        FROM tri e
        JOIN tri st ON st.pred = 'hasStyle' AND st.subj = e.subj
        JOIN tri co ON co.pred = 'hasColor' AND co.subj = e.subj
        JOIN vals ON vals.s = st.obj AND vals.c = co.obj
        WHERE e.pred = 'complements'
    """)
def kg_bgp_values(spark, sf):
    # SPARQL VALUES: seed the pattern with an inline (style,
    # color) relation — multi-variable blocks join as an
    # explicitly-broadcast literal table; single-variable blocks
    # become isin predicates pushed into the arm scans
    # (test_bgp pins PushedFilters: In)
    t = (_kg_world(spark, sf)["triples"]
         .select(F.col("subj").cast("string").alias("subj"),
                 "pred",
                 F.col("obj").cast("string").alias("obj")))
    return bgp.bgp_query(
        t,
        [("?a", "complements", "?b"),
         ("?a", "hasStyle", "?s"), ("?a", "hasColor", "?c")],
        values=(["?s", "?c"],
                [("party", "black"), ("casual", "red"),
                 ("formal", "white")])) \
        .select("a", "b", "s", "c")


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        t AS (SELECT subj, pred, obj FROM tri
              WHERE pred != 'complements'),
        fan AS (SELECT subj, pred, list(DISTINCT obj) AS true_objs
                FROM t GROUP BY 1, 2),
        t2a AS (SELECT t.subj, t.pred, t.obj, fan.true_objs,
               {_te_hr},
               {_te_o}
                FROM t JOIN fan USING (subj, pred)),
        t2 AS (SELECT *, {_te_dist_true} AS dist_true FROM t2a),
        cands AS (SELECT pred, cand,
               {_te_c}
                  FROM (SELECT DISTINCT pred, obj AS cand FROM t)),
        scored AS (SELECT t2.subj, t2.pred, t2.obj, t2.dist_true,
                          c.cand, {_te_dist} AS dist
                   FROM t2 JOIN cands c USING (pred)
                   WHERE c.cand = t2.obj
                      OR NOT list_contains(t2.true_objs, c.cand)),
        ranked AS (SELECT subj, pred, obj,
                          1 + sum(CASE WHEN dist < dist_true
                                         OR (dist = dist_true
                                             AND cand < obj)
                                       THEN 1 ELSE 0 END) AS rnk
                   FROM scored GROUP BY 1, 2, 3)
        SELECT pred, count(*) AS n_test,
               round(avg(1.0 / rnk), 6) AS mrr,
               round(avg(CASE WHEN rnk <= 1 THEN 1.0 ELSE 0.0 END),
                     6) AS hits_at_1,
               round(avg(CASE WHEN rnk <= 3 THEN 1.0 ELSE 0.0 END),
                     6) AS hits_at_3,
               round(avg(rnk::DOUBLE), 6) AS mean_rank
        FROM ranked GROUP BY pred
    """)
def kg_transe_eval(spark, sf):
    # TransE-style filtered entity-ranking evaluation
    # (operators/linkpred.py::transe_entity_ranking): every
    # distinct attribute triple's true object ranked by
    # ||h + r − t||² against its predicate's data-derived
    # candidate vocabulary, same-(subj,pred) true objects
    # filtered out first (Bordes et al.'s filtered protocol);
    # per-predicate MRR / hits@1 / hits@3 / mean rank. The
    # embeddings are the repo's deterministic hash-lane stand-ins,
    # so every distance, rank, and tie-break replays exactly in
    # the DuckDB oracle — candidate vocab broadcasts, lane hashes
    # run in codegen, no pairwise work anywhere
    t = _kg_world(spark, sf)["triples"]
    return transe_entity_ranking(t, dim=8)


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {tri_cte},
        vocab AS (SELECT pred, obj,
                         row_number() OVER (PARTITION BY pred
                                            ORDER BY obj) AS rnk,
                         count(*) OVER (PARTITION BY pred) AS vsz
                  FROM (SELECT DISTINCT pred, obj FROM tri)),
        pos0 AS (SELECT t.subj, t.pred, t.obj, v.rnk, v.vsz
                 FROM tri t JOIN vocab v USING (pred, obj)
                 WHERE v.vsz >= 2),
        posh AS (SELECT pos0.*,
               {_ts_hr},
               {_ts_o}
                 FROM pos0),
        pos AS (SELECT *, {_te_dist_true} AS dist_true FROM posh),
        e AS (SELECT pos.*, t.i AS draw
              FROM pos, LATERAL unnest(
                [{", ".join(str(i) for i in range(_ts_k))}]) AS t(i)),
        hx AS (SELECT *,
                      (('0x' || substr(md5('ts:' || draw::VARCHAR
                        || ':' || subj || ':' || pred || ':' || obj),
                        1, 15))::BIGINT % (vsz - 1)) + 1 AS idx0
               FROM e),
        n2 AS (SELECT *, CASE WHEN idx0 < rnk THEN idx0
                              ELSE idx0 + 1 END AS nrk FROM hx),
        wneg AS (SELECT n2.*, v.obj AS neg_obj
                 FROM n2 JOIN vocab v
                   ON v.pred = n2.pred AND v.rnk = n2.nrk),
        wlan AS (SELECT wneg.*,
                   {_ts_n}
                 FROM wneg),
        scored AS (SELECT *, {_ts_dist_neg} AS dist_neg FROM wlan),
        ranked AS (SELECT subj, pred, obj,
                          1 + sum(CASE WHEN dist_neg < dist_true
                                         OR (dist_neg = dist_true
                                             AND neg_obj < obj)
                                       THEN 1 ELSE 0 END) AS rnk_s
                   FROM scored GROUP BY 1, 2, 3)
        SELECT pred, count(*) AS n_test, {_ts_k} AS k,
               round(avg(1.0 / rnk_s), 6) AS mrr_sampled,
               round(avg(CASE WHEN rnk_s <= 1 THEN 1.0 ELSE 0.0 END),
                     6) AS hits_at_1,
               round(avg(CASE WHEN rnk_s <= 3 THEN 1.0 ELSE 0.0 END),
                     6) AS hits_at_3,
               round(avg(rnk_s::DOUBLE), 6) AS mean_rank
        FROM ranked GROUP BY pred
    """)
def kg_transe_sampled(spark, sf):
    # Sampled-negative TransE ranking — the protocol that scales
    # to entity-sized vocabularies (DGL-KE/PBG style): each
    # distinct triple's true object ranked against 20
    # deterministic skip-one corrupted draws from its predicate's
    # data-derived vocabulary (operators/linkpred.py::
    # transe_sampled_ranking). Covers ALL predicates including
    # complements (whose product vocabulary full-vocab ranking
    # cannot explode at 10^12 docs); every draw, lane, distance,
    # and tie-break replays exactly in the oracle
    t = _kg_world(spark, sf)["triples"]
    return transe_sampled_ranking(t, k=20, dim=8)


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        ed AS (SELECT src, dst FROM edges WHERE weight >= 2),
        sym AS (SELECT src, dst FROM ed
                UNION ALL SELECT dst AS src, src AS dst FROM ed)
        SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
        FROM sym w1 JOIN sym w2 ON w2.src = w1.dst
        WHERE w1.src < w2.dst
          AND NOT EXISTS (SELECT 1 FROM sym n
                          WHERE n.src = w1.src AND n.dst = w2.dst)
    """)
def kg_motif_wedge(spark, sf):
    # GraphFrames-style motif query over the KG edge table: open
    # wedges "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)" on the
    # symmetrized strong edges (weight ≥ 2) — the co-occurrence
    # frontier a recommender expands into, found by the motif
    # COMPILER (operators/motif.py), not a hand-written join;
    # a < c dedups the two symmetric bindings of each wedge
    ed = _kg_world(spark, sf)["edges"] \
        .filter(F.col("weight") >= 2).select("src", "dst")
    sym = ed.unionByName(ed.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    return (motif_find(
        sym, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
        .filter((F.col("a") < F.col("c")))
        .select("a", "b", "c"))


@query(oracle=lambda: f"""
        WITH d AS (SELECT doc_id, spans,
                          list_transform(spans, s -> s.offset) AS offs
                   FROM read_parquet('{world.docs_glob}'))
        SELECT doc_id,
               CAST(len(spans) AS INT) AS n_spans,
               CAST(len(list_filter(spans, s -> s.kind = 'text'))
                    AS INT) AS n_text,
               CAST(len(list_filter(spans, s -> s.kind = 'image_ref'))
                    AS INT) AS n_media,
               (list_sort(offs) = offs
                AND len(list_distinct(offs)) = len(offs))
                 AS offsets_monotone,
               array_to_string(
                 list_transform(spans,
                   s -> CASE WHEN s.kind = 'text' THEN 'T'
                             ELSE 'I' END), '') AS pattern
        FROM d
    """)
def docs_span_audit(spark, sf):
    # Span-sequence integrity audit over the interleaved payload
    # (input_hint shape): per doc — span/kind counts, strict
    # offset monotonicity, and the kind pattern string ("ITIT…").
    # Every column is an array expression over the spans struct
    # (transform/filter/array_sort) — pure codegen map work, ZERO
    # shuffles: the audit runs at scan speed no matter how many
    # docs, which is the only acceptable cost for a 10^12-row
    # validity gate. The north rule's span-sequence invariant
    # (kind, text, media_ref, order) expressed relationally
    _kg_world(spark, sf)
    docs = spark.read.parquet(_kg_paths(sf)["docs"])
    offs = F.transform(F.col("spans"), lambda s: s["offset"])
    return docs.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.size(F.filter(F.col("spans"),
                        lambda s: s["kind"] == "text"))
        .alias("n_text"),
        F.size(F.filter(F.col("spans"),
                        lambda s: s["kind"] == "image_ref"))
        .alias("n_media"),
        ((F.array_sort(offs) == offs)
         & (F.size(F.array_distinct(offs)) == F.size(offs)))
        .alias("offsets_monotone"),
        F.concat_ws("", F.transform(
            F.col("spans"),
            lambda s: F.when(s["kind"] == "text", F.lit("T"))
            .otherwise(F.lit("I")))).alias("pattern"))


@query(oracle=lambda: f"""
        -- reference gates over the PRE-gate segmentation rows:
        -- P6 Background skip, P5 area >= 1028, P3/P8 type present,
        -- W1 top-1-by-area per doc (image_processor.py:113-142)
        SELECT doc_id, span_idx, label, area, type FROM (
          SELECT doc_id, span_idx, label, area, type,
                 row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY area DESC, span_idx ASC) AS rn
          FROM read_parquet('{world.pregate_glob}')
          WHERE label <> 'Background' AND area >= 1028
            AND type IS NOT NULL) t
        WHERE rn = 1
    """)
def kg_mention_gates(spark, sf):
    # P3/P5/P6/P8 + W1 relationally, over the materialized PRE-gate
    # segmentation rows — the last un-oracled reference semantics
    # (the fused kernel applies these gates internally; reference
    # image_processor.py:113-142). The oracle replays the same
    # predicates + top-1-by-area in SQL.
    _kg_world(spark, sf)
    pre = spark.read.parquet(_kg_paths(sf)["pregate"])
    return mo.mention_gates(pre)


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {nodes_cte},
        seeds AS (SELECT DISTINCT src AS sel_id FROM edges
                  ORDER BY sel_id LIMIT 40),
        selt AS (SELECT s.sel_id, n.type AS sel_type
                 FROM seeds s JOIN nodes n ON n.product_id = s.sel_id),
        esym AS (SELECT src, dst, rel_type, weight FROM edges
                 WHERE weight >= 1
                 UNION ALL
                 SELECT dst AS src, src AS dst, rel_type, weight FROM edges
                 WHERE weight >= 1),
        hop AS (SELECT t.sel_id, t.sel_type, e.dst, e.rel_type, e.weight,
                       n.type, n.color
                FROM selt t
                JOIN esym e ON e.src = t.sel_id
                JOIN nodes n ON n.product_id = e.dst),
        filt AS (SELECT * FROM hop
                 WHERE CASE WHEN rel_type = 'WORN_WITH'
                            THEN type <> sel_type
                            ELSE type = sel_type END
                   AND color = 'black')
        SELECT sel_id AS query_id, rel_type, dst AS product_id, weight,
               color
        FROM (SELECT *, row_number() OVER (
                PARTITION BY sel_id, rel_type
                ORDER BY weight DESC, dst ASC) AS rn
              FROM filt) z
        WHERE rn <= 5
    """)
def kg_ctl_filtered(spark, sf):
    # P11 dynamic attribute filters: complete_the_look with a
    # `filters={"color": ...}` equality predicate (reference
    # f-string Cypher WHERE, graph_database.py:296) applied to the
    # related nodes BEFORE the per-rel top-k.
    out = _kg_world(spark, sf)
    seeds = out["edges"].select(
        F.col("src").alias("product_id")).distinct() \
        .orderBy("product_id").limit(40)
    return Q.complete_the_look(out["edges"], out["nodes"],
                               selected=seeds, top_k=5,
                               filters={"color": "black"}) \
        .select("query_id", "rel_type", "product_id", "weight", "color")


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base}, {world.text_triples_cte}, {nodes_cte},
        tr AS (
          SELECT count(*) AS n FROM (
            SELECT subj FROM ({attr_triples_sql})
            UNION ALL SELECT subj FROM ttr
            UNION ALL SELECT src FROM edges) t)
        SELECT 'linked' AS "table", 'link' AS stage,
               (SELECT count(*) FROM linked)::BIGINT AS output_rows
        UNION ALL SELECT 'processed_docs', 'link',
               (SELECT count(*) FROM documents)
        UNION ALL SELECT 'canonical', 'canonicalize',
               (SELECT count(*) FROM cat)
        UNION ALL SELECT 'edges', 'edges', (SELECT count(*) FROM edges)
        UNION ALL SELECT 'triples', 'triples', (SELECT n FROM tr)
        UNION ALL SELECT 'nodes', 'nodes', (SELECT count(*) FROM nodes)
    """)
def kg_lineage_metrics(spark, sf):
    # A9: per-stage lineage totals. The oracle recomputes each
    # table's true size from first principles (SQL over the
    # materialized inputs), so a lineage count that drifts from
    # the actual data fails the hash. Per-partition granularity is
    # parallelism-dependent and pinned by tests instead.
    _kg_world(spark, sf)
    return metrics_totals_df(spark, _KG_CACHE[sf]["__pipe"].tables)


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        q AS (SELECT query_id, q_img::DOUBLE[] AS qi,
                     q_style::DOUBLE[] AS qs
              FROM read_parquet('{world.qembs_glob}')),
        p1 AS (SELECT query_id, product_id,
                      list_inner_product(k.embedding::DOUBLE[], q.qi)
                        AS score
               FROM cat k CROSS JOIN q
               WHERE list_inner_product(k.embedding::DOUBLE[], q.qi)
                     >= 0.2),
        r1 AS (SELECT query_id, product_id, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY score DESC, product_id ASC) AS rank FROM p1),
        p2 AS (SELECT query_id, product_id,
                      list_inner_product(k.style_embedding::DOUBLE[], q.qs)
                        AS score
               FROM cat k CROSS JOIN q
               WHERE list_inner_product(k.style_embedding::DOUBLE[], q.qs)
                     >= 0.5),
        r2 AS (SELECT query_id, product_id, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY score DESC, product_id ASC) AS rank FROM p2),
        u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        f AS (SELECT query_id, product_id,
                     sum(1.0 / (60.0 + rank)) AS rrf_score
              FROM u GROUP BY 1, 2)
        SELECT query_id, product_id, round(rrf_score, 6) AS rrf_score
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY rrf_score DESC, product_id ASC) AS rn
              FROM f) z
        WHERE rn <= 5
    """)
def kg_outfit_from_text(spark, sf):
    out = _kg_world(spark, sf)
    # query texts drawn from catalog style descriptions so both
    # RRF paths return hits: the style path scores 1.0 on the
    # exact description, the CLIP path retrieves attribute-matching
    # items (round 1 used arbitrary text → 0 rows, vacuous check)
    qt = _kg_query_texts(spark, sf)
    r = Q.outfit_from_text(qt, out["catalog"], top_k=5)
    return r.select("query_id", "product_id",
                    F.round("rrf_score", 6).alias("rrf_score"))


# outfit_from_image: replay the linking join over the materialized
# query-mention embeddings — metadata filters (type/color equality,
# gender ∈ {unisex, mention gender}), exact cosine (inputs are
# unit-norm so dot ≡ cosine, double products of float32 inputs are
# exact on both engines), then the W5 top-1-then-threshold gate at
# 0.7 with product_id-asc tie-break.
@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        qm AS (SELECT doc_id, span_idx, m_type, m_color, m_gender,
                      embedding::DOUBLE[] AS q_emb
               FROM read_parquet('{world.qimg_glob}')),
        cand AS (SELECT qm.doc_id, qm.span_idx, k.product_id,
                        k.category,
                        list_inner_product(k.embedding::DOUBLE[],
                                           qm.q_emb) AS score
                 FROM qm JOIN cat k
                   ON k.type = qm.m_type AND k.color = qm.m_color
                  AND (k.gender = 'unisex' OR k.gender = qm.m_gender)),
        ranked AS (SELECT *, row_number() OVER (
                     PARTITION BY doc_id, span_idx
                     ORDER BY score DESC, product_id ASC) AS rn
                   FROM cand)
        SELECT doc_id, span_idx, product_id, category,
               round(score, 6) AS score
        FROM ranked WHERE rn = 1 AND score >= 0.7
    """)
def kg_outfit_from_image(spark, sf):
    # The §3.3 image entry point END TO END (reference
    # src/inference/recommender.py:204-325): query media docs →
    # segment → embed → link against the catalog with the
    # metadata filters + top-1-then-threshold gate at 0.7. The
    # oracle replays the linking join in SQL over the
    # materialized query-mention embeddings; segmentation +
    # embedding are the deterministic stand-ins, identical on
    # both sides by construction.
    out = _kg_world(spark, sf)
    qdocs = spark.read.parquet(_kg_paths(sf)["qdocs"])
    r = Q.outfit_from_image(qdocs, out["catalog"], threshold=0.7)
    return r.select("doc_id", "span_idx", "product_id", "category",
                    F.round("score", 6).alias("score"))


@query(oracle=lambda: f"""
        WITH RECURSIVE {world.base},
        att AS (SELECT DISTINCT subj, pred || '=' || obj AS a
                FROM ({attr_triples_sql})),
        deg AS (SELECT subj, count(*) AS deg FROM att GROUP BY 1),
        com AS (SELECT x.subj AS item_a, y.subj AS item_b,
                       count(*) AS common_attrs
                FROM att x JOIN att y
                  ON x.a = y.a AND x.subj < y.subj
                GROUP BY 1, 2 HAVING count(*) >= 4)
        SELECT item_a, item_b, common_attrs,
               common_attrs::DOUBLE
                 / (da.deg + db.deg - common_attrs) AS jaccard
        FROM com JOIN deg da ON da.subj = item_a
        JOIN deg db ON db.subj = item_b
    """)
def kg_attr_similarity(spark, sf):
    # item-item similarity by shared ATTRIBUTE triples — the KG
    # complement of co-occurrence ("similar because both are
    # red-cotton-casual", not "bought together"): distinct
    # (item, pred=obj) tokens → shared-attr counts via one
    # inverted self-join → Jaccard from degree counts; ≥4 shared
    # attrs keeps the head-value fan-out bounded at fixture scale
    # (the hub-cap knob from neighbor_jaccard is the 100 TB lever)
    out = _kg_world(spark, sf)
    prods = out["canonical"].select(
        F.col("canonical_id").alias("subj")).distinct()
    attrs = (out["triples"].filter(F.col("pred") != "complements")
             .join(prods, "subj", "left_semi")
             .select("subj",
                     F.concat_ws("=", "pred", "obj").alias("a"))
             .distinct())
    deg = attrs.groupBy("subj").agg(F.count(F.lit(1)).alias("deg"))
    w1 = attrs.select("a", F.col("subj").alias("item_a"))
    w2 = attrs.select("a", F.col("subj").alias("item_b"))
    common = (w1.join(w2, "a")
              .filter(F.col("item_a") < F.col("item_b"))
              .groupBy("item_a", "item_b")
              .agg(F.count(F.lit(1)).alias("common_attrs"))
              .filter(F.col("common_attrs") >= 4))
    da = deg.select(F.col("subj").alias("item_a"),
                    F.col("deg").alias("da"))
    db = deg.select(F.col("subj").alias("item_b"),
                    F.col("deg").alias("db"))
    return (common.join(da, "item_a").join(db, "item_b")
            .select("item_a", "item_b", "common_attrs",
                    (F.col("common_attrs").cast("double")
                     / (F.col("da") + F.col("db")
                        - F.col("common_attrs"))).alias("jaccard")))
