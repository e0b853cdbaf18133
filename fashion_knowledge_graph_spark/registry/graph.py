"""Graph queries over the lineitem co-purchase graph: centralities,
communities, paths, walks and link prediction."""

from __future__ import annotations

from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.operators.graph import (
    betweenness_sampled, bfs_distances, clustering_coefficient,
    degree_assortativity, degree_stats, deterministic_walks,
    harmonic_centrality, hits, kcore_peel, ktruss_peel, label_propagation,
    link_prediction, luby_mis, modularity, neighbor_jaccard, pagerank,
    shortest_paths, triangle_counts,
)
from fashion_knowledge_graph_spark.registry import query
from fashion_knowledge_graph_spark.registry.common import _load
from fashion_knowledge_graph_spark.registry.relational import (
    j6_cooccurrence_edges,
)


# k-core: 3 peel rounds unrolled as CTEs over the symmetrized
# co-purchase graph (same unrolled-iteration contract as pagerank)
_kc = ["""
        und AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        e0 AS (SELECT src, dst FROM und
               UNION ALL SELECT dst AS src, src AS dst FROM und)
    """]
for _r in range(3):
    _kc.append(f"""
        d{_r} AS (SELECT src AS node, count(*) AS deg FROM e{_r}
                  GROUP BY 1),
        k{_r} AS (SELECT node FROM d{_r} WHERE deg >= 3),
        e{_r + 1} AS (
          SELECT e.src, e.dst FROM e{_r} e
          JOIN k{_r} a ON e.src = a.node
          JOIN k{_r} b ON e.dst = b.node)
        """)

# BFS: 3 unrolled frontier expansions over the symmetrized
# co-purchase graph (same CTE base as k-core)
_bfs = ["""
        undb AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        eb AS (SELECT src, dst FROM undb
               UNION ALL SELECT dst AS src, src AS dst FROM undb),
        v0 AS (SELECT node, 0 AS dist FROM (
                 SELECT DISTINCT src AS node FROM undb
                 ORDER BY node LIMIT 5))
    """]
for _d in range(1, 4):
    _prev = " UNION ALL ".join(f"SELECT * FROM v{_j}"
                               for _j in range(_d))
    _bfs.append(f"""
        v{_d} AS (
          SELECT DISTINCT e.dst AS node, {_d} AS dist
          FROM v{_d - 1} f JOIN eb e ON e.src = f.node
          WHERE e.dst NOT IN (SELECT node FROM ({_prev})))
        """)

_hc = ["""
        undh AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        eh AS (SELECT src, dst FROM undh
               UNION ALL SELECT dst AS src, src AS dst FROM undh),
        h0 AS (SELECT node AS seed, node, 0 AS dist FROM (
                 SELECT DISTINCT src AS node FROM undh
                 ORDER BY node LIMIT 5))
    """]
for _d in range(1, 4):
    _prev = " UNION ALL ".join(f"SELECT * FROM h{_j}"
                               for _j in range(_d))
    _hc.append(f"""
        h{_d} AS (
          SELECT DISTINCT f.seed, e.dst AS node, {_d} AS dist
          FROM h{_d - 1} f JOIN eh e ON e.src = f.node
          WHERE NOT EXISTS (SELECT 1 FROM ({_prev}) p
                            WHERE p.seed = f.seed
                              AND p.node = e.dst))
        """)
# Luby MIS: 2 unrolled derandomized rounds; lexicographic (h, id)
# minimum over active neighbors via a two-stage exact min
_lm = ["""
        undm AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        e1 AS (SELECT src AS a, dst AS b FROM undm),
        act1 AS (SELECT DISTINCT a AS node FROM e1
                 UNION SELECT DISTINCT b AS node FROM e1)
    """]
for _r in (1, 2):
    _lm.append(f"""
        pri{_r} AS (
          SELECT node,
                 ('0x' || substr(md5('{_r}:' ||
                                     CAST(node AS VARCHAR)), 1, 15))
                   ::BIGINT AS h
          FROM act{_r}),
        nbp{_r} AS (
          SELECT s.node, p2.h AS nb_h, s.nb
          FROM (SELECT a AS node, b AS nb FROM e{_r}
                UNION ALL SELECT b AS node, a AS nb FROM e{_r}) s
          JOIN pri{_r} p2 ON p2.node = s.nb),
        best{_r} AS (SELECT node, min(nb_h) AS bh
                     FROM nbp{_r} GROUP BY 1),
        best2{_r} AS (
          SELECT b.node, b.bh, min(n.nb) AS bn
          FROM best{_r} b JOIN nbp{_r} n
            ON n.node = b.node AND n.nb_h = b.bh
          GROUP BY 1, 2),
        win{_r} AS (
          SELECT p.node FROM pri{_r} p
          LEFT JOIN best2{_r} m ON m.node = p.node
          WHERE m.node IS NULL OR p.h < m.bh
             OR (p.h = m.bh AND p.node < m.bn)),
        dead{_r} AS (SELECT node FROM win{_r}
                     UNION
                     SELECT s.node FROM nbp{_r} s
                     WHERE s.nb IN (SELECT node FROM win{_r})),
        act{_r + 1} AS (
          SELECT node FROM act{_r}
          WHERE node NOT IN (SELECT node FROM dead{_r})),
        e{_r + 1} AS (
          SELECT a, b FROM e{_r}
          WHERE a IN (SELECT node FROM act{_r + 1})
            AND b IN (SELECT node FROM act{_r + 1}))
        """)

# k-truss: 2 unrolled peel rounds — per round, id-ordered triangle
# enumeration on the current edge set, per-edge support via the
# 3-arm union, keep support >= k-2
_kt = ["""
        undt AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        c0 AS (SELECT src AS a, dst AS b FROM undt)
    """]
for _r in range(1, 3):
    _bwd = f"c{_r - 1}"
    _kt.append(f"""
        t{_r} AS (
          SELECT e1.a, e1.b, e2.b AS c
          FROM {_bwd} e1
          JOIN {_bwd} e2 ON e2.a = e1.a AND e1.b < e2.b
          JOIN {_bwd} e3 ON e3.a = e1.b AND e3.b = e2.b),
        s{_r} AS (
          SELECT a, b, count(*) AS support FROM (
            SELECT a, b FROM t{_r}
            UNION ALL SELECT a, c AS b FROM t{_r}
            UNION ALL SELECT b AS a, c AS b FROM t{_r})
          GROUP BY 1, 2),
        c{_r} AS (
          SELECT e.a, e.b, coalesce(s.support, 0) AS support
          FROM {_bwd} e LEFT JOIN s{_r} s
            ON s.a = e.a AND s.b = e.b
          WHERE coalesce(s.support, 0) >= 1)
        """)

# Brandes forward (σ per level) + backward (δ) unrolled; shares
# the graph/seed construction with the harmonic oracle
_bw = ["""
        undw AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        ew AS (SELECT src, dst FROM undw
               UNION ALL SELECT dst AS src, src AS dst FROM undw),
        l0 AS (SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma
               FROM (SELECT DISTINCT src AS node FROM undw
                     ORDER BY node LIMIT 5))
    """]
for _d in range(1, 4):
    _prev = " UNION ALL ".join(
        f"SELECT seed, node FROM l{_j}" for _j in range(_d))
    _bw.append(f"""
        l{_d} AS (
          SELECT f.seed, e.dst AS node, sum(f.sigma) AS sigma
          FROM l{_d - 1} f JOIN ew e ON e.src = f.node
          WHERE NOT EXISTS (SELECT 1 FROM ({_prev}) p
                            WHERE p.seed = f.seed
                              AND p.node = e.dst)
          GROUP BY 1, 2)
        """)
for _d in (2, 1):
    _w = (f"(SELECT seed, node, sigma, 0.0 AS delta FROM l3)"
          if _d == 2 else "b2")
    _bw.append(f"""
        b{_d} AS (
          SELECT c.seed, c.node, c.sigma,
                 coalesce(sum((c.sigma * 1.0 / w.sigma)
                              * (1.0 + w.delta)), 0.0) AS delta
          FROM l{_d} c
          LEFT JOIN ew e ON e.src = c.node
          LEFT JOIN {_w} w
            ON w.seed = c.seed AND w.node = e.dst
          GROUP BY 1, 2, 3)
        """)

# PageRank: 3 unrolled iterations, damping 0.85, over the
# co-purchase graph (j6 edges, both directions) — the exact
# iterative formula of operators/graph.py::pagerank (no dangling
# nodes by construction: every node has out-edges)
pr_iter = """
        it{K} AS (
          SELECT no.node,
                 (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.m, 0.0) AS rank
          FROM nodes no CROSS JOIN nn
          LEFT JOIN (SELECT e.dst AS node,
                            sum(r.rank * (e.w / o.outw)) AS m
                     FROM e JOIN it{P} r ON e.src = r.node
                     JOIN outw o ON e.src = o.src
                     GROUP BY 1) s ON s.node = no.node)"""

# personalized PageRank: same unrolled loop, teleport vector
# 1/5 on the 5 smallest co-purchase nodes (no dangling nodes on
# the symmetrized graph, so the dangling term vanishes)
ppr_iter = """
        it{K} AS (
          SELECT t.node,
                 (1.0 - 0.85) * t.tele
                   + 0.85 * coalesce(s.m, 0.0) AS rank
          FROM tele t
          LEFT JOIN (SELECT e.dst AS node,
                            sum(r.rank * (e.w / o.outw)) AS m
                     FROM e JOIN it{P} r ON e.src = r.node
                     JOIN outw o ON e.src = o.src
                     GROUP BY 1) s ON s.node = t.node)"""

# Bellman-Ford min-plus relaxation, 3 unrolled rounds; BIGINT
# path totals (integer weights — no float summation hazard)
ss_iter = """
        it{K} AS (SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM it{P}
            UNION ALL
            SELECT e.dst AS node, p.dist + e.w AS dist
            FROM it{P} p JOIN e ON e.src = p.node) GROUP BY 1)"""

# HITS: 2 unrolled iterations, L1 normalization each half-step,
# disjoint 's…'/'p…' id spaces on the supplier→part supply graph
hits_iter = """
        a{K}r AS (SELECT e.dst AS node, sum(h{P}.hub) AS authority
                  FROM e JOIN h{P} ON h{P}.node = e.src GROUP BY 1),
        a{K}t AS (SELECT sum(authority) AS t FROM a{K}r),
        a{K} AS (SELECT n.node,
                        coalesce(r.authority, 0.0) / a{K}t.t
                          AS authority
                 FROM nodes n LEFT JOIN a{K}r r USING (node)
                 CROSS JOIN a{K}t),
        h{K}r AS (SELECT e.src AS node, sum(a{K}.authority) AS hub
                  FROM e JOIN a{K} ON a{K}.node = e.dst GROUP BY 1),
        h{K}t AS (SELECT sum(hub) AS t FROM h{K}r),
        h{K} AS (SELECT n.node, coalesce(r.hub, 0.0) / h{K}t.t AS hub
                 FROM nodes n LEFT JOIN h{K}r r USING (node)
                 CROSS JOIN h{K}t)"""

# LPA: 3 unrolled synchronous rounds, exact BIGINT weight tallies,
# max-weight/min-label adoption — over the same co-purchase graph
lpa_round = """
        t{K} AS (SELECT e.dst AS node, l.label, sum(e.w) AS wt
                 FROM e JOIN l{P} l ON e.src = l.node
                 GROUP BY 1, 2),
        l{K} AS (SELECT node, label FROM t{K}
                 QUALIFY row_number() OVER (PARTITION BY node
                   ORDER BY wt DESC, label ASC) = 1)"""


@query(oracle=lambda: ("WITH " + ",".join(_kc) + """
        SELECT src AS node, count(*) AS deg FROM e3 GROUP BY 1
    """))
def graph_kcore(spark, sf):
    # fixed-round k-core peeling (k=3, 3 rounds) over the
    # symmetrized co-purchase graph — unrolled-iteration contract
    # like graph_pagerank, so the oracle replays each peel as CTEs
    und = j6_cooccurrence_edges(spark, sf)
    e = und.select("src", "dst").unionByName(
        und.select(F.col("dst").alias("src"),
                   F.col("src").alias("dst")))
    return kcore_peel(e, k=3, rounds=3)


@query(oracle=lambda: ("WITH " + ",".join(_bfs) + """
        SELECT node, dist FROM v0
        UNION ALL SELECT node, dist FROM v1
        UNION ALL SELECT node, dist FROM v2
        UNION ALL SELECT node, dist FROM v3
    """))
def graph_bfs_distances(spark, sf):
    # multi-source BFS (3 hops) from the 5 smallest product keys
    # over the symmetrized co-purchase graph — unrolled frontier
    # expansion, anti-joined visited set (operators/graph.py)
    und = j6_cooccurrence_edges(spark, sf)
    e = und.select("src", "dst").unionByName(
        und.select(F.col("dst").alias("src"),
                   F.col("src").alias("dst")))
    seeds = und.select(F.col("src").alias("node")).distinct() \
        .orderBy("node").limit(5)
    return bfs_distances(e, seeds, max_depth=3)


@query(oracle=lambda: ("WITH " + ",".join(_hc) + """
        SELECT node, count(*) AS n_reached,
               round(sum(1.0 / dist), 6) AS harmonic
        FROM (SELECT * FROM h1
              UNION ALL SELECT * FROM h2
              UNION ALL SELECT * FROM h3)
        GROUP BY node
    """))
def graph_harmonic_centrality(spark, sf):
    # seed-sampled harmonic closeness (Boldi-Vigna estimator
    # shape): Σ 1/d from 5 fixed seeds, 3 hops, over the
    # symmetrized co-purchase graph — ONE per-seed BFS loop whose
    # frontier key carries the seed id (operators/graph.py::
    # harmonic_centrality)
    und = j6_cooccurrence_edges(spark, sf)
    e = und.select("src", "dst").unionByName(
        und.select(F.col("dst").alias("src"),
                   F.col("src").alias("dst")))
    seeds = und.select(F.col("src").alias("node")).distinct() \
        .orderBy("node").limit(5)
    return harmonic_centrality(e, seeds, max_depth=3)


@query(oracle=lambda: ("WITH " + ",".join(_bw) + """
        SELECT node, round(sum(delta), 6) AS betweenness
        FROM (SELECT seed, node, delta FROM b1
              UNION ALL SELECT seed, node, delta FROM b2)
        GROUP BY node
        HAVING round(sum(delta), 6) > 0
    """))
def graph_betweenness(spark, sf):
    # seed-sampled Brandes betweenness (5 fixed sources, 3-hop
    # horizon) over the symmetrized co-purchase graph: forward
    # pass accumulates exact BIGINT shortest-path counts per
    # level, backward pass unrolls the dependency recurrence
    # δ(v)=Σ (σ_v/σ_w)(1+δ(w)) — operators/graph.py::
    # betweenness_sampled
    und = j6_cooccurrence_edges(spark, sf)
    e = und.select("src", "dst").unionByName(
        und.select(F.col("dst").alias("src"),
                   F.col("src").alias("dst")))
    seeds = und.select(F.col("src").alias("node")).distinct() \
        .orderBy("node").limit(5)
    return betweenness_sampled(e, seeds, max_depth=3)


@query(oracle=lambda: ("WITH " + ",".join(_kt) + """
        SELECT a, b, CAST(support AS BIGINT) AS support FROM c2
    """))
def graph_ktruss(spark, sf):
    # 3-truss of the co-purchase graph, 2 peel rounds: every
    # surviving edge sits in ≥1 triangle of the surviving
    # subgraph — the edge-level cohesion miner (k-core's
    # edge analogue; operators/graph.py::ktruss_peel)
    und = j6_cooccurrence_edges(spark, sf)
    return ktruss_peel(und.select("src", "dst"), k=3, rounds=2)


@query(oracle=lambda: ("WITH " + ",".join(_lm) + """
        SELECT node, 1 AS mis_round FROM win1
        UNION ALL SELECT node, 2 AS mis_round FROM win2
    """))
def graph_luby_mis(spark, sf):
    # Luby's maximal independent set, 2 derandomized rounds, over
    # the co-purchase graph — md5 per-round priorities, strict
    # (h, id) total order, winners + neighbors deactivate
    # (operators/graph.py::luby_mis)
    und = j6_cooccurrence_edges(spark, sf)
    return luby_mis(und.select("src", "dst"), rounds=2)


@query(oracle=lambda: ("""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        e AS (SELECT src, dst, w::DOUBLE AS w FROM pairs
              UNION ALL SELECT dst, src, w::DOUBLE FROM pairs),
        nodes AS (SELECT DISTINCT node FROM (
          SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        outw AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
        it0 AS (SELECT node, 1.0 / nn.n AS rank
                FROM nodes CROSS JOIN nn),"""
    + pr_iter.format(K=1, P=0) + ","
    + pr_iter.format(K=2, P=1) + ","
    + pr_iter.format(K=3, P=2) + """
        SELECT node, round(rank, 6) AS rank FROM it3
    """), headline=True)
def graph_pagerank(spark, sf):
    und = j6_cooccurrence_edges(spark, sf)
    e = und.select("src", "dst", "weight").unionByName(
        und.select(F.col("dst").alias("src"),
                   F.col("src").alias("dst"), "weight"))
    pr = pagerank(e, weight="weight", iterations=3, damping=0.85)
    return pr.select("node", F.round("rank", 6).alias("rank"))


@query(oracle=lambda: ("""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        e AS (SELECT src, dst, w FROM pairs
              UNION ALL SELECT dst, src, w FROM pairs),
        nodes AS (SELECT DISTINCT node FROM (
          SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        l0 AS (SELECT node, node AS label FROM nodes),"""
    + lpa_round.format(K=1, P=0) + ","
    + lpa_round.format(K=2, P=1) + ","
    + lpa_round.format(K=3, P=2) + """
        SELECT node, label AS community FROM l3
    """))
def graph_lpa_communities(spark, sf):
    # synchronous weighted label propagation (3 rounds) over the
    # co-purchase graph — deterministic max-weight/min-label
    # adoption, unrolled-CTE oracle (communities, not components)
    und = j6_cooccurrence_edges(spark, sf)
    e = und.select("src", "dst", "weight").unionByName(
        und.select(F.col("dst").alias("src"),
                   F.col("src").alias("dst"), "weight"))
    return label_propagation(e, weight="weight", rounds=3)


@query(oracle=lambda: ("""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        e AS (SELECT src, dst, w::DOUBLE AS w FROM pairs
              UNION ALL SELECT dst, src, w::DOUBLE FROM pairs),
        nodes AS (SELECT DISTINCT node FROM (
          SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        outw AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
        seeds AS (SELECT node FROM (
          SELECT DISTINCT src AS node FROM pairs
          ORDER BY node LIMIT 5)),
        tele AS (SELECT n.node,
                        CASE WHEN s.node IS NOT NULL
                             THEN 1.0 / 5 ELSE 0.0 END AS tele
                 FROM nodes n LEFT JOIN seeds s USING (node)),
        it0 AS (SELECT node, tele AS rank FROM tele),"""
    + ppr_iter.format(K=1, P=0) + ","
    + ppr_iter.format(K=2, P=1) + ","
    + ppr_iter.format(K=3, P=2) + """
        SELECT node, round(rank, 9) AS rank FROM it3
    """))
def graph_ppr_recs(spark, sf):
    # personalized PageRank (random-walk-with-restart) from the 5
    # smallest co-purchased products — rank = proximity to the
    # seed basket, the classic graph recommender; same unrolled
    # 3-iteration contract as graph_pagerank, teleport CASE oracle
    und = j6_cooccurrence_edges(spark, sf)
    e = und.select("src", "dst", "weight").unionByName(
        und.select(F.col("dst").alias("src"),
                   F.col("src").alias("dst"), "weight"))
    seeds = und.select(F.col("src").alias("node")).distinct() \
        .orderBy("node").limit(5)
    pr = pagerank(e, weight="weight", iterations=3, damping=0.85,
                  seeds=seeds)
    return pr.select("node", F.round("rank", 9).alias("rank"))


# local clustering coefficient: canonical-order triangle replay
# (each x<y<z triangle found once) + true degrees, deg≥2 nodes
# with zero triangles kept via LEFT JOIN
@query(oracle="""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT src AS a, dst AS b FROM pairs),
        adj AS (SELECT a AS z, b AS x FROM und
                UNION ALL SELECT b AS z, a AS x FROM und),
        deg AS (SELECT z AS node, count(*) AS deg FROM adj GROUP BY 1),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM und e1 JOIN und e2 ON e2.a = e1.b
          JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        tcnt AS (
          SELECT node, count(*) AS triangles FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri) GROUP BY 1)
        SELECT d.node, d.deg,
               coalesce(t.triangles, 0) AS triangles,
               coalesce(t.triangles, 0)::DOUBLE * 2.0
                 / (d.deg::DOUBLE * (d.deg - 1)::DOUBLE) AS coeff
        FROM deg d LEFT JOIN tcnt t USING (node)
        WHERE d.deg >= 2
    """)
def graph_clustering_coeff(spark, sf):
    # local clustering coefficient over the co-purchase graph:
    # triangle counts (degree-ordered orientation, O(m^1.5) wedge
    # bound) joined to true degrees; deg≥2 nodes with zero
    # triangles kept at coeff 0 via left join — the integer-
    # derived divide replays bit-exactly
    # (operators/graph.py::clustering_coefficient)
    und = j6_cooccurrence_edges(spark, sf)
    return clustering_coefficient(und)


@query(oracle=lambda: ("""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        e AS (SELECT src, dst, w FROM pairs
              UNION ALL SELECT dst, src, w FROM pairs),
        seeds AS (SELECT node FROM (
          SELECT DISTINCT src AS node FROM pairs
          ORDER BY node LIMIT 5)),
        it0 AS (SELECT node, 0::BIGINT AS dist FROM seeds),"""
    + ss_iter.format(K=1, P=0) + ","
    + ss_iter.format(K=2, P=1) + ","
    + ss_iter.format(K=3, P=2) + """
        SELECT node, dist FROM it3
    """))
def graph_sssp_weighted(spark, sf):
    # fixed-round multi-source Bellman-Ford (min-plus relaxation)
    # from the 5 smallest products over the symmetrized
    # co-purchase graph; INTEGER weights keep every path total an
    # exact BIGINT, unrolled-CTE oracle
    # (operators/graph.py::shortest_paths)
    und = j6_cooccurrence_edges(spark, sf)
    e = und.select("src", "dst", "weight").unionByName(
        und.select(F.col("dst").alias("src"),
                   F.col("src").alias("dst"), "weight"))
    seeds = und.select(F.col("src").alias("node")).distinct() \
        .orderBy("node").limit(5)
    return shortest_paths(e, seeds, rounds=3, weight="weight")


@query(oracle=lambda: ("""
        WITH e AS (SELECT DISTINCT 's' || l_suppkey AS src,
                                   'p' || l_partkey AS dst
                   FROM lineitem),
        nodes AS (SELECT DISTINCT node FROM (
          SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        h0 AS (SELECT node, 1.0 / nn.n AS hub
               FROM nodes CROSS JOIN nn),"""
    + hits_iter.format(K=1, P=0) + ","
    + hits_iter.format(K=2, P=1) + """
        SELECT h2.node, round(h2.hub, 6) AS hub,
               round(a2.authority, 6) AS authority
        FROM h2 JOIN a2 USING (node)
    """))
def graph_hits_bipartite(spark, sf):
    # HITS hubs/authorities (Kleinberg) over the DIRECTED
    # supplier→part supply graph — ids prefixed ('s…'/'p…') to
    # keep the two key spaces disjoint; 2 L1-normalized
    # iterations, unrolled-CTE oracle (operators/graph.py::hits)
    li = _load(spark, sf, "lineitem")
    e = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst")) \
        .distinct()
    h = hits(e, iterations=2)
    return h.select("node", F.round("hub", 6).alias("hub"),
                    F.round("authority", 6).alias("authority"))


# modularity: LPA round CTEs (shared with graph_lpa_communities)
# + exact-BIGINT internal/degree sums, two float divides at the end
@query(oracle=lambda: ("""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        e AS (SELECT src, dst, w FROM pairs
              UNION ALL SELECT dst, src, w FROM pairs),
        nodes AS (SELECT DISTINCT node FROM (
          SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        l0 AS (SELECT node, node AS label FROM nodes),"""
    + lpa_round.format(K=1, P=0) + ","
    + lpa_round.format(K=2, P=1) + ","
    + lpa_round.format(K=3, P=2) + """,
        lab AS (SELECT node, label AS community FROM l3),
        tot AS (SELECT sum(w)::DOUBLE AS w2 FROM e),
        labeled AS (
          SELECT e.w, ls.community AS c_src, ld.community AS c_dst
          FROM e JOIN lab ls ON ls.node = e.src
                 JOIN lab ld ON ld.node = e.dst),
        intw AS (SELECT c_src AS community, sum(w) AS int2
                 FROM labeled WHERE c_src = c_dst GROUP BY 1),
        degs AS (SELECT c_src AS community, sum(w) AS deg
                 FROM labeled GROUP BY 1),
        nn AS (SELECT community, count(*) AS n_nodes
               FROM lab GROUP BY 1)
        SELECT nn.community, nn.n_nodes,
               CAST(coalesce(i.int2, 0) AS BIGINT) AS internal_weight,
               CAST(coalesce(d.deg, 0) AS BIGINT) AS degree_weight,
               round(coalesce(i.int2, 0)::DOUBLE / tot.w2
                     - (coalesce(d.deg, 0)::DOUBLE / tot.w2) ** 2, 9)
                 AS contribution
        FROM nn LEFT JOIN degs d USING (community)
        LEFT JOIN intw i USING (community)
        CROSS JOIN tot
    """))
def graph_modularity(spark, sf):
    # Newman modularity decomposition of the LPA communities over
    # the co-purchase graph — per-community internal weight,
    # degree weight, and Q contribution with exact BIGINT sums
    # (the judge of what label_propagation produced;
    # operators/graph.py::modularity)
    und = j6_cooccurrence_edges(spark, sf)
    e = und.select("src", "dst", "weight").unionByName(
        und.select(F.col("dst").alias("src"),
                   F.col("src").alias("dst"), "weight"))
    comm = label_propagation(e, weight="weight", rounds=3)
    return modularity(e, comm, weight="weight")


# Adamic-Adar link prediction: wedge join through shared
# neighbors, anti-join vs existing edges, degree-damped score
@query(oracle="""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT src AS a, dst AS b FROM pairs),
        adj AS (SELECT a AS z, b AS x FROM und
                UNION ALL SELECT b AS z, a AS x FROM und),
        deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY 1),
        piv AS (SELECT adj.z, adj.x, deg.deg
                FROM adj JOIN deg USING (z)),
        wed AS (SELECT w1.x AS node_a, w2.x AS node_b, w1.deg
                FROM piv w1 JOIN piv w2
                  ON w1.z = w2.z AND w1.x < w2.x),
        newp AS (SELECT * FROM wed
                 WHERE NOT EXISTS (SELECT 1 FROM und
                                   WHERE a = node_a AND b = node_b))
        SELECT node_a, node_b,
               count(*) AS common_neighbors,
               round(sum(1.0 / ln(deg)), 6) AS adamic_adar
        FROM newp GROUP BY 1, 2
    """)
def graph_link_prediction(spark, sf):
    # Adamic-Adar link prediction over the co-purchase graph:
    # predicted (not-yet-connected) pairs scored by degree-damped
    # common neighbors — one wedge join + anti-join vs edges
    und = j6_cooccurrence_edges(spark, sf)
    return link_prediction(und)


@query(oracle="""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT src AS a, dst AS b FROM pairs),
        adj AS (SELECT a AS z, b AS x FROM und
                UNION ALL SELECT b AS z, a AS x FROM und),
        deg AS (SELECT z AS node, count(*) AS deg FROM adj GROUP BY 1),
        com AS (SELECT w1.x AS node_a, w2.x AS node_b,
                       count(*) AS common_neighbors
                FROM adj w1 JOIN adj w2
                  ON w1.z = w2.z AND w1.x < w2.x
                GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT node_a, node_b, common_neighbors,
               common_neighbors::DOUBLE
                 / (da.deg + db.deg - common_neighbors) AS jaccard
        FROM com
        JOIN deg da ON node_a = da.node
        JOIN deg db ON node_b = db.node
    """)
def graph_jaccard_similarity(spark, sf):
    # item-item neighborhood Jaccard over the co-purchase graph
    # (collaborative-filtering similarity, connected pairs
    # included — the complement of graph_link_prediction's
    # anti-join): one wedge join + two degree joins, union size
    # derived as deg_a + deg_b − common (operators/graph.py)
    und = j6_cooccurrence_edges(spark, sf)
    return neighbor_jaccard(und, min_common=2)


# deterministic walks: 3 unrolled md5 arg-min hops; with
# walks_per_node=1, walk_id = start node
@query(oracle="""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT src AS a, dst AS b FROM pairs),
        adj AS (SELECT a AS cur, b AS nxt FROM und
                UNION ALL SELECT b AS cur, a AS nxt FROM und),
        w0 AS (SELECT DISTINCT cur AS walk_id, cur AS node FROM adj),
        s1 AS (SELECT walk_id,
                      min_by(nxt, md5(concat_ws(':', walk_id, 1,
                                                node, nxt))) AS node
               FROM w0 JOIN adj ON w0.node = adj.cur GROUP BY 1),
        s2 AS (SELECT walk_id,
                      min_by(nxt, md5(concat_ws(':', walk_id, 2,
                                                node, nxt))) AS node
               FROM s1 JOIN adj ON s1.node = adj.cur GROUP BY 1),
        s3 AS (SELECT walk_id,
                      min_by(nxt, md5(concat_ws(':', walk_id, 3,
                                                node, nxt))) AS node
               FROM s2 JOIN adj ON s2.node = adj.cur GROUP BY 1)
        SELECT walk_id, 0 AS step, node FROM w0
        UNION ALL SELECT walk_id, 1 AS step, node FROM s1
        UNION ALL SELECT walk_id, 2 AS step, node FROM s2
        UNION ALL SELECT walk_id, 3 AS step, node FROM s3
    """)
def graph_walk_corpus(spark, sf):
    # DeepWalk-style training-corpus generation: 1 deterministic
    # (md5 arg-min) 3-hop walk per node over the co-purchase
    # graph — reproducible skip-gram input, unrolled arg-min CTE
    # oracle (operators/graph.py::deterministic_walks)
    und = j6_cooccurrence_edges(spark, sf)
    return deterministic_walks(und, steps=3, walks_per_node=1)


# skip-gram pairs: the walk CTEs above + one windowed self-join
@query(oracle="""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT src AS a, dst AS b FROM pairs),
        adj AS (SELECT a AS cur, b AS nxt FROM und
                UNION ALL SELECT b AS cur, a AS nxt FROM und),
        w0 AS (SELECT DISTINCT cur AS walk_id, cur AS node FROM adj),
        s1 AS (SELECT walk_id,
                      min_by(nxt, md5(concat_ws(':', walk_id, 1,
                                                node, nxt))) AS node
               FROM w0 JOIN adj ON w0.node = adj.cur GROUP BY 1),
        s2 AS (SELECT walk_id,
                      min_by(nxt, md5(concat_ws(':', walk_id, 2,
                                                node, nxt))) AS node
               FROM s1 JOIN adj ON s1.node = adj.cur GROUP BY 1),
        s3 AS (SELECT walk_id,
                      min_by(nxt, md5(concat_ws(':', walk_id, 3,
                                                node, nxt))) AS node
               FROM s2 JOIN adj ON s2.node = adj.cur GROUP BY 1),
        corpus AS (
          SELECT walk_id, 0 AS step, node FROM w0
          UNION ALL SELECT walk_id, 1 AS step, node FROM s1
          UNION ALL SELECT walk_id, 2 AS step, node FROM s2
          UNION ALL SELECT walk_id, 3 AS step, node FROM s3)
        SELECT c.node AS center, x.node AS context,
               count(*) AS pair_count
        FROM corpus c JOIN corpus x
          ON c.walk_id = x.walk_id
         AND abs(c.step - x.step) BETWEEN 1 AND 2
        GROUP BY 1, 2
    """)
def graph_skipgram_pairs(spark, sf):
    # skip-gram (center, context) training pairs from the walk
    # corpus, window ±2 — the word2vec-over-walks input table
    # (DeepWalk's second half). One self-join per walk_id (walks
    # are 4 rows each: bounded fan-out, no skew), aggregated to
    # (center, context, pair_count)
    und = j6_cooccurrence_edges(spark, sf)
    w = deterministic_walks(und, steps=3, walks_per_node=1) \
        .localCheckpoint(eager=True)
    c = w.select("walk_id", F.col("step").alias("c_step"),
                 F.col("node").alias("center"))
    x = w.select("walk_id", F.col("step").alias("x_step"),
                 F.col("node").alias("context"))
    d = F.abs(F.col("c_step") - F.col("x_step"))
    return (c.join(x, "walk_id")
            .filter((d >= 1) & (d <= 2))
            .groupBy("center", "context")
            .agg(F.count(F.lit(1)).alias("pair_count")))


@query(oracle="""
        WITH e AS (
          SELECT a.l_partkey AS a, b.l_partkey AS b
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2
        ), tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT node, count(*) AS triangles FROM (
          SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri
        ) GROUP BY 1
    """)
def graph_triangles(spark, sf):
    # per-node triangle counts over the part co-occurrence graph,
    # via degree-ordered orientation (bounds wedge blowup on skewed
    # hubs — see operators/graph.py:triangle_counts)
    li = _load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("dst"))
    pairs = (a.join(b, "ok").filter(F.col("src") < F.col("dst"))
             .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
             .filter(F.col("w") >= 2))
    return triangle_counts(pairs)


@query(oracle="""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT src AS a, dst AS b FROM pairs),
        adj AS (SELECT a AS z FROM und
                UNION ALL SELECT b FROM und),
        deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY 1),
        byd AS (SELECT deg, count(*) AS cnt FROM deg GROUP BY 1)
        SELECT (SELECT sum(cnt) FROM byd)::BIGINT AS n_nodes,
               (SELECT count(*) FROM und)::BIGINT AS n_edges,
               (SELECT max(deg) FROM byd)::BIGINT AS max_degree,
               round((SELECT sum(deg * cnt)::DOUBLE / sum(cnt)
                      FROM byd), 6) AS mean_degree,
               round(1.0 + (SELECT sum(cnt)::DOUBLE FROM byd
                            WHERE deg >= 2)
                         / (SELECT sum(cnt * ln(deg / 1.5))
                            FROM byd WHERE deg >= 2), 6)
                 AS alpha_hill
    """)
def graph_degree_stats(spark, sf):
    # Degree datasheet + discrete power-law exponent MLE (Hill /
    # CSN eq. 3.7) for the co-purchase graph — the skew profile
    # that decides salting and hub caps at 100 TB; the ln-sum
    # runs over the distinct-degree rollup, not per node
    # (operators/graph.py::degree_stats)
    und = j6_cooccurrence_edges(spark, sf)
    s = degree_stats(und, dmin=2)
    return s.select(
        "n_nodes", "n_edges", "max_degree",
        F.round("mean_degree", 6).alias("mean_degree"),
        F.round("alpha_hill", 6).alias("alpha_hill"))


@query(oracle="""
        WITH pairs AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT src AS a, dst AS b FROM pairs
                UNION ALL SELECT dst, src FROM pairs),
        deg AS (SELECT a AS node, count(*) AS deg FROM und
                GROUP BY 1),
        ends AS (SELECT da.deg AS x, db.deg AS y
                 FROM und
                 JOIN deg da ON und.a = da.node
                 JOIN deg db ON und.b = db.node),
        s AS (SELECT count(*) AS m, sum(x) AS s1, sum(y) AS s2,
                     sum(x*y) AS s12, sum(x*x) AS s11,
                     sum(y*y) AS s22
              FROM ends)
        SELECT m::BIGINT AS n_edge_ends,
               round((m * s12 - s1 * s2)::DOUBLE
                     / sqrt((m * s11 - s1 * s1)::DOUBLE
                            * (m * s22 - s2 * s2)::DOUBLE), 6) AS r
        FROM s
    """)
def graph_assortativity(spark, sf):
    # Newman degree assortativity over the co-purchase graph —
    # with degree_stats' alpha this is the two-number skew
    # fingerprint (hub-hub vs hub-leaf wiring) that picks the
    # salting strategy (operators/graph.py::degree_assortativity)
    und = j6_cooccurrence_edges(spark, sf)
    s = degree_assortativity(und)
    return s.select("n_edge_ends",
                    F.round("r", 6).alias("r"))
