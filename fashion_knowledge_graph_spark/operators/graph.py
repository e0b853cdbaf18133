"""Iterative graph algorithms over DataFrame edge lists.

PageRank here is the canonical iterative join-aggregate: each
iteration is (ranks ⋈ edges on src) → groupBy dst → weighted sum.
Catalyst handles the physical side (broadcast vs shuffle per AQE);
the loop is driver-side control flow only — no per-row driver work.
Lineage is truncated every iteration with an eager localCheckpoint,
otherwise the plan tree doubles per iteration and the optimizer
chokes long before the data does (the classic iterative-Spark trap).

Related: ``components.py`` (connected components / label propagation)
covers the other iterative-graph need in this engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(edges: DataFrame,
             weight: str | None = None, iterations: int = 3,
             damping: float = 0.85,
             seeds: DataFrame | None = None,
             init_ranks: DataFrame | None = None) -> DataFrame:
    """Weighted (optionally personalized) PageRank, fixed iterations.

    r₀(v) = t(v);  rₖ₊₁(v) = (1-d)·t(v) + d·( Σ_{u→v} rₖ(u)·w(u,v)/outw(u)
                                              + dangling_massₖ·t(v) )

    ``t`` is the teleport vector: uniform 1/N by default, or — with
    ``seeds`` (a one-column node DataFrame) — 1/|seeds| on the seed
    set and 0 elsewhere, i.e. personalized PageRank (the
    random-walk-with-restart recommender primitive: rank is
    proximity TO THE SEEDS, not global importance). With the uniform
    vector the formula reduces exactly to classic PageRank, so the
    personalization is a pure generalization.

    Dangling mass (rank parked on nodes with no out-edges) is
    redistributed along the teleport vector — one scalar aggregation
    per iteration, the same single-number driver round-trip GraphX
    performs. A fixed ``iterations`` (vs convergence test) keeps the
    result deterministic and ANSI-SQL-replayable (the oracle unrolls
    the loop as CTEs).

    Scale: each iteration shuffles |edges| contribution rows into a
    partial-agg groupBy on dst — the same profile as one
    co-occurrence aggregation; ranks (2 narrow columns) broadcast
    when small, shuffle-join when not. Node set and out-weights are
    computed once, checkpointed, and reused every iteration.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    # materialize the edge list FIRST: nodes / out-weights / dangling
    # set each consume it, and edges usually arrive from an expensive
    # upstream plan (a co-occurrence self-join here) that would
    # otherwise re-execute once per consumer
    e = edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"),
                     w.alias("w")).localCheckpoint(eager=True)
    # node set + dangling flag in ONE partial-agg'd pass (src rows
    # carry has_out=1, dst rows 0, max per node), ONE checkpoint, and
    # both scalars (n, n_dang) in ONE agg job — the round-3 shape
    # spent 4 setup jobs (nodes ckpt + count, dangling ckpt + count)
    # on the same information; at local job-floor ~0.2 s each that was
    # pure launch overhead, and at cluster scale it was two extra
    # passes over the node set
    nodes_meta = (e.select(F.col("e_src").alias("node"),
                           F.lit(1).alias("has_out"))
                  .unionByName(e.select(F.col("e_dst").alias("node"),
                                        F.lit(0).alias("has_out")))
                  .groupBy("node").agg(F.max("has_out").alias("has_out"))
                  .localCheckpoint(eager=True))
    n, n_dang = nodes_meta.agg(
        F.count(F.lit(1)),
        F.sum(F.lit(1) - F.col("has_out"))).first()
    nodes = nodes_meta.select("node")
    dang_nodes = nodes_meta.filter(F.col("has_out") == 0).select("node")
    outw = e.groupBy("e_src").agg(F.sum("w").alias("outw"))
    # static per-edge transition share w(u,v)/outw(u): join ONCE
    # outside the loop (the round-1 shape re-joined outw every
    # iteration). rank·(w/outw) — keep the parenthesization in sync
    # with the SQL oracle.
    e_norm = (e.join(outw, "e_src")
              .select("e_src", F.col("e_dst").alias("node"),
                      (F.col("w") / F.col("outw")).alias("share"))
              .localCheckpoint(eager=True))

    if seeds is None:
        # uniform teleport: keep the literal form — the per-node tele
        # join below would only add a column of one constant
        tele_df = None
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    else:
        seed_col = seeds.columns[0]
        # flag seed membership on the (checkpointed) node set in ONE
        # pass; seeds absent from the graph simply never match, so
        # counting is_seed intersects BEFORE normalizing — a foreign
        # seed can no longer shrink the teleport vector's sum below 1
        # and silently leak rank mass every iteration. One checkpoint
        # + one scalar agg replaces the round-3 shape's three setup
        # jobs (seed ckpt + count + tele ckpt).
        seed_set = (seeds.select(F.col(seed_col).alias("node"))
                    .distinct().withColumn("__s", F.lit(1)))
        flagged = (nodes.join(seed_set, "node", "left")
                   .select("node",
                           F.coalesce(F.col("__s"), F.lit(0))
                           .alias("is_seed"))
                   .localCheckpoint(eager=True))
        n_seeds = flagged.agg(F.sum("is_seed")).first()[0]
        if not n_seeds:
            raise ValueError(
                "personalized PageRank needs ≥1 seed present in the graph")
        # teleport vector is a pure projection of the checkpointed
        # flag column — static, reused every iteration
        tele_df = flagged.select(
            "node",
            (F.col("is_seed") / F.lit(float(n_seeds))).alias("tele"))
        ranks = tele_df.select("node", F.col("tele").alias("rank"))
    if init_ranks is not None:
        # resume path (pagerank_checkpointed): continue from persisted
        # ranks instead of the teleport init — the iteration formula
        # is unchanged, so chunked runs compose exactly
        ranks = init_ranks.select("node", F.col("rank").cast("double")) \
            .localCheckpoint(eager=True)
    for _ in range(iterations):
        dangling = 0.0 if n_dang == 0 else (
            ranks.join(dang_nodes, "node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0))).first()[0])
        summed = (e_norm.join(ranks, e_norm["e_src"] == ranks["node"])
                  .select(e_norm["node"],
                          (F.col("rank") * F.col("share")).alias("contrib"))
                  .groupBy("node").agg(F.sum("contrib").alias("in_mass")))
        if tele_df is None:
            new_rank = (F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (F.coalesce(F.col("in_mass"), F.lit(0.0))
                           + F.lit(dangling / n)))
            base = nodes
        else:
            new_rank = (F.lit(1.0 - damping) * F.col("tele")
                        + F.lit(damping)
                        * (F.coalesce(F.col("in_mass"), F.lit(0.0))
                           + F.lit(dangling) * F.col("tele")))
            base = tele_df
        ranks = (base.join(summed, "node", "left")
                 .select("node", new_rank.alias("rank"))
                 .localCheckpoint(eager=True))
    return ranks


def pagerank_checkpointed(edges: DataFrame, table, iterations: int,
                          chunk: int = 1,
                          weight: str | None = None) -> DataFrame:
    """PageRank with DURABLE snapshot checkpoints: every ``chunk``
    iterations the rank vector commits to ``table`` (a
    ``sources.tables.SnapshotTable``) with the iteration number in
    the commit stage, and a re-run after ANY interruption resumes
    from the last committed iteration and converges to the exact
    one-shot result (parquet round-trips doubles bit-exactly and the
    iteration formula is unchanged on the resume path).

    This extends the pipeline's snapshot-resume contract (north rule:
    "resumable from an Iceberg snapshot checkpoint") to ITERATIVE
    algorithms: ``localCheckpoint`` inside ``pagerank`` truncates
    lineage but dies with the process — at 10^12 docs a 50-iteration
    job must survive driver/executor loss without recomputing from
    iteration 0. The trade is re-deriving the static edge structures
    once per chunk (amortize with larger ``chunk``); every commit is
    also time-travelable rank history for free.
    """
    spark = edges.sparkSession
    done = 0
    ranks = None
    if table.exists():
        stage = table._manifest(table.current_snapshot()).get("stage") or ""
        if stage.startswith("pr_iter_"):
            done = int(stage.rsplit("_", 1)[1])
            ranks = table.read(spark)
    while done < iterations:
        step = min(chunk, iterations - done)
        ranks = pagerank(edges, weight=weight,
                         iterations=step,
                         init_ranks=ranks)
        done += step
        table.write(ranks, mode="overwrite", stage=f"pr_iter_{done}")
        ranks = table.read(spark)
    return ranks if ranks is not None else table.read(spark)


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected edge list →
    ``(node, triangles)``.

    Degree-ordered orientation (the standard distributed formulation,
    cf. Suri & Vassilvitskii "Counting Triangles and the Curse of the
    Last Reducer", WWW'11): orient every undirected edge from the
    lower-(degree, id) endpoint to the higher one, then a triangle
    u-v-w is found EXACTLY once as oriented wedges (u→v, u→w) closed
    by oriented edge (v→w).

    Scale: orientation caps every node's out-degree at O(√m) even on
    power-law graphs — the wedge self-join (the quadratic term) is
    bounded per node, so the head attribute hubs ('black', 'cotton')
    that would explode a naive neighbor join produce O(m^1.5) wedges
    total instead of deg(hub)². Three hash joins + one groupBy; no
    driver-side state.
    """
    # canonical undirected edge set (a < b), self-loops dropped.
    # Materialized: consumed twice (degrees + orientation), and the
    # upstream edge plan is typically an expensive self-join that must
    # not re-execute per consumer.
    a, b = F.col(src), F.col(dst)
    e = (edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct()
         .localCheckpoint(eager=True))
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # orientation key: (degree, id) — total order, ties broken by id
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    keyed = e.join(da, "a").join(db, "b")
    fwd = (F.col("da") < F.col("db")) | \
          ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    # materialized: the oriented DAG feeds both wedge sides AND the
    # closure probe (3 consumers)
    oriented = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v")) \
        .localCheckpoint(eager=True)
    # wedges (u→v, u→w) with v before w in orientation order need a
    # consistent order on (v, w); reuse the oriented edge itself as
    # the closure probe: triangle iff (v→w) ∈ oriented
    w1 = oriented.select(F.col("u").alias("pivot"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u").alias("pivot"), F.col("v").alias("y"))
    wedges = w1.join(w2, "pivot").filter(F.col("x") != F.col("y"))
    closer = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closer, ["x", "y"])     # each triangle once
    nodes = (tri.select(F.col("pivot").alias("node"))
             .unionByName(tri.select(F.col("x").alias("node")))
             .unionByName(tri.select(F.col("y").alias("node"))))
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("triangles"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient over an undirected edge list →
    ``(node, deg, triangles, coeff)`` for every node with deg ≥ 2.

    coeff(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — the fraction of a
    node's neighbor pairs that are themselves connected (Watts &
    Strogatz 1998); the graph-health metric that separates clique-ish
    attribute communities from hub-and-spoke stars.

    Composition, not re-derivation: triangle counts come from
    ``triangle_counts`` (degree-ordered orientation, O(m^1.5) wedge
    bound) and degrees from one partial-agg'd count; nodes with
    deg ≥ 2 and zero triangles are kept with coeff 0 (a left join —
    dropping them would bias the mean coefficient upward). The divide
    is integer-derived, so the SQL replay is bit-identical.
    """
    a, b = F.col("src"), F.col("dst")
    e = (edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct()
         .localCheckpoint(eager=True))
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    tri = triangle_counts(e, src="a", dst="b")
    return (deg.filter(F.col("deg") >= 2)
            .join(tri, "node", "left")
            .select("node", "deg",
                    F.coalesce(F.col("triangles"), F.lit(0))
                    .alias("triangles"),
                    (F.coalesce(F.col("triangles"), F.lit(0))
                     .cast("double") * 2.0
                     / (F.col("deg").cast("double")
                        * (F.col("deg") - 1).cast("double")))
                    .alias("coeff")))


def shortest_paths(edges: DataFrame, seeds: DataFrame, rounds: int,
                   weight: str | None = None) -> DataFrame:
    """Fixed-round multi-source weighted shortest paths (Bellman-Ford
    relaxation) over a DIRECTED edge list → ``(node, dist)`` =
    minimum total edge weight from any seed, among paths of ≤
    ``rounds`` hops (unreached nodes absent; symmetrize the input for
    undirected semantics). Seeds absent from the graph still appear
    in the output at dist 0 — a node is at distance 0 from itself
    whether or not it has edges (mirror of ``pagerank``'s seed
    intersection, where absent seeds MUST drop to conserve mass;
    here keeping them is the harmless, information-preserving
    choice).

    Each round is one min-plus relaxation:
    dist_{t+1}(v) = min(dist_t(v), min_{u→v} dist_t(u) + w(u,v)) —
    the iterative join-aggregate twin of ``pagerank``'s weighted-sum
    round, and ``bfs_distances`` is exactly this with w ≡ 1. A fixed
    round count keeps the result deterministic and replayable as
    unrolled CTEs. INTEGER weights keep every path total an exact
    BIGINT — no float summation hazard between engines; ties between
    equal-cost paths are value-ties, so min() is unambiguous.

    Scale shape per round: dists ⋈ edges on src (narrow (node, dist)
    rows, broadcast when the reached set is small), partial-agg'd
    min per dst, full-outer-ish merge via union + min groupBy —
    |E| rows shuffled per round, dists checkpointed so round t never
    replays 1..t-1.
    """
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    e = edges.select(F.col("src").alias("e_src"),
                     F.col("dst").alias("e_dst"), w.alias("w")) \
        .localCheckpoint(eager=True)
    node_col = seeds.columns[0]
    dists = seeds.select(F.col(node_col).alias("node"),
                         F.lit(0).cast("long").alias("dist")) \
        .distinct().localCheckpoint(eager=True)
    for _ in range(rounds):
        relaxed = (dists.join(e, dists["node"] == e["e_src"])
                   .select(F.col("e_dst").alias("node"),
                           (F.col("dist") + F.col("w")).alias("dist")))
        dists = (dists.unionByName(relaxed)
                 .groupBy("node").agg(F.min("dist").alias("dist"))
                 .localCheckpoint(eager=True))
    return dists


def hits(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED
    edge list → ``(node, hub, authority)``, L1-normalized each
    half-step, fixed iterations.

    a_{t+1}(v) = Σ_{u→v} h_t(u) then normalize;
    h_{t+1}(u) = Σ_{u→v} a_{t+1}(v) then normalize.
    L1 normalization (sum = 1) instead of the textbook L2 keeps the
    per-iteration scalar a plain SUM — the same single-number driver
    round-trip as ``pagerank``'s dangling mass — and the fixpoint
    direction is identical (normalization only rescales). Fixed
    iterations ⇒ deterministic, unrolled-CTE-replayable; callers
    round before hashing (float sums reorder across engines).

    Scale shape per half-step: scores ⋈ edges + partial-agg groupBy —
    two |E|-row shuffles per iteration; score vectors are narrow
    (node, double) rows, checkpointed per iteration. Nodes with no
    in-edges (out-edges) keep authority (hub) = 0 via the left join
    against the full node set.
    """
    e = edges.select(F.col("src").alias("e_src"),
                     F.col("dst").alias("e_dst")) \
        .localCheckpoint(eager=True)
    nodes = (e.select(F.col("e_src").alias("node"))
             .unionByName(e.select(F.col("e_dst").alias("node")))
             .distinct().localCheckpoint(eager=True))
    n = nodes.count()
    if n == 0:
        raise ValueError("hits() needs a non-empty edge list")
    hubs = nodes.select("node", F.lit(1.0 / n).alias("hub"))
    for _ in range(iterations):
        # checkpoint the RAW sums (the |E|-row join-aggregate — the
        # half-step's only heavy job) so the normalization total and
        # the normalized projection both read the materialized rows;
        # normalizing lazily (a dim-sized left join) instead of
        # checkpointing it halves the heavy executions per half-step
        auth_raw = (hubs.join(e, hubs["node"] == e["e_src"])
                    .groupBy(F.col("e_dst").alias("node"))
                    .agg(F.sum("hub").alias("authority"))
                    .localCheckpoint(eager=True))
        a_tot = auth_raw.agg(F.sum("authority")).first()[0]
        auths = (nodes.join(auth_raw, "node", "left")
                 .select("node",
                         (F.coalesce(F.col("authority"), F.lit(0.0))
                          / F.lit(a_tot)).alias("authority")))
        hub_raw = (auths.join(e, auths["node"] == e["e_dst"])
                   .groupBy(F.col("e_src").alias("node"))
                   .agg(F.sum("authority").alias("hub"))
                   .localCheckpoint(eager=True))
        h_tot = hub_raw.agg(F.sum("hub")).first()[0]
        hubs = (nodes.join(hub_raw, "node", "left")
                .select("node",
                        (F.coalesce(F.col("hub"), F.lit(0.0))
                         / F.lit(h_tot)).alias("hub")))
    return hubs.join(auths, "node").select("node", "hub", "authority")


def link_prediction(edges: DataFrame,
                    max_degree: int | None = None) -> DataFrame:
    """Common-neighbor link prediction over an undirected edge list →
    ``(node_a, node_b, common_neighbors, adamic_adar)`` for node pairs
    NOT already connected (that exclusion is what makes it
    *prediction*; Liben-Nowell & Kleinberg 2003).

    adamic_adar(a,b) = Σ_{z ∈ N(a)∩N(b)} 1 / ln(deg(z)) — common
    neighbors damped by how promiscuous they are (a hub shared by
    everyone carries less signal than a rare mutual neighbor).

    Shape: one wedge self-join through the shared neighbor z (the
    Σ deg(z)² term — the same quadratic core as triangle counting),
    then an anti-join against the existing edge set and a partial-agg
    groupBy on the pair. Every z with deg ≥ 2 has ln(deg) > 0, and
    deg-1 nodes form no wedge, so the division is total.

    ``max_degree`` drops hub pivots before wedging — the standard
    scale cap: at 100 TB the head attribute hubs ('black') would
    otherwise contribute deg² near-zero-signal wedges; dropping them
    loses only their ~1/ln(deg)→0 contributions (documented recall
    trade, same knob as the 2-hop expansion's hub cap).
    """
    a, b = F.col("src"), F.col("dst")
    und = (edges.select(F.least(a, b).alias("a"),
                        F.greatest(a, b).alias("b"))
           .filter(F.col("a") != F.col("b")).distinct()
           .localCheckpoint(eager=True))
    adj = und.select(F.col("a").alias("z"), F.col("b").alias("x")) \
        .unionByName(und.select(F.col("b").alias("z"),
                                F.col("a").alias("x")))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    pivot = adj.join(deg, "z")
    if max_degree is not None:
        pivot = pivot.filter(F.col("deg") <= max_degree)
    w1 = pivot.select("z", F.col("x").alias("node_a"), "deg")
    w2 = pivot.select("z", F.col("x").alias("node_b"))
    wedges = w1.join(w2, "z").filter(F.col("node_a") < F.col("node_b"))
    # prediction = pairs NOT already edges
    new_pairs = wedges.join(
        und.select(F.col("a").alias("node_a"), F.col("b").alias("node_b")),
        ["node_a", "node_b"], "left_anti")
    return (new_pairs.groupBy("node_a", "node_b")
            .agg(F.count(F.lit(1)).alias("common_neighbors"),
                 F.round(F.sum(F.lit(1.0) / F.log(F.col("deg"))), 6)
                 .alias("adamic_adar")))


def neighbor_jaccard(edges: DataFrame,
                     min_common: int = 1,
                     max_degree: int | None = None) -> DataFrame:
    """Neighborhood Jaccard similarity over an undirected edge list →
    ``(node_a, node_b, common_neighbors, jaccard)`` for every pair
    sharing ≥ ``min_common`` neighbors (connected or not — this is
    the item-item collaborative-filtering score, not the
    link-*prediction* exclusion of ``link_prediction``).

    jaccard(a,b) = |N(a)∩N(b)| / (deg(a) + deg(b) − |N(a)∩N(b)|) —
    the union is derived from the two degrees and the intersection,
    so ONE wedge self-join through the shared neighbor plus two
    broadcast-able degree lookups computes it; no set materialization
    per pair. The divide is a single integer-derived double ratio, so
    the DuckDB replay is bit-identical.

    ``max_degree`` caps hub pivots exactly as in ``link_prediction``
    (the deg² wedge explosion knob at 100 TB). Degrees in the
    denominator stay TRUE degrees, but ``common_neighbors`` counts
    only wedges through un-capped pivots — so for a pair that shares
    BOTH a capped hub and a below-cap neighbor the intersection is
    undercounted while the union is not, and the capped score is a
    LOWER BOUND on the true Jaccard (exact only for pairs whose
    common neighbors are all below the cap; pairs whose every common
    neighbor is capped disappear entirely). That is the intended
    trade: hub-mediated similarity ('both are black') is the
    near-zero-signal term at 100 TB.
    """
    a, b = F.col("src"), F.col("dst")
    und = (edges.select(F.least(a, b).alias("a"),
                        F.greatest(a, b).alias("b"))
           .filter(F.col("a") != F.col("b")).distinct()
           .localCheckpoint(eager=True))
    adj = und.select(F.col("a").alias("z"), F.col("b").alias("x")) \
        .unionByName(und.select(F.col("b").alias("z"),
                                F.col("a").alias("x")))
    deg = adj.groupBy(F.col("z").alias("node")) \
        .agg(F.count(F.lit(1)).alias("deg"))
    pivot = adj
    if max_degree is not None:
        cap = deg.select(F.col("node").alias("z"), "deg")
        pivot = adj.join(cap, "z").filter(F.col("deg") <= max_degree) \
            .select("z", "x")
    w1 = pivot.select("z", F.col("x").alias("node_a"))
    w2 = pivot.select("z", F.col("x").alias("node_b"))
    common = (w1.join(w2, "z")
              .filter(F.col("node_a") < F.col("node_b"))
              .groupBy("node_a", "node_b")
              .agg(F.count(F.lit(1)).alias("common_neighbors"))
              .filter(F.col("common_neighbors") >= min_common))
    da = deg.select(F.col("node").alias("node_a"),
                    F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"),
                    F.col("deg").alias("deg_b"))
    return (common.join(da, "node_a").join(db, "node_b")
            .select("node_a", "node_b", "common_neighbors",
                    (F.col("common_neighbors").cast("double")
                     / (F.col("deg_a") + F.col("deg_b")
                        - F.col("common_neighbors")))
                    .alias("jaccard")))


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core peeling over an UNDIRECTED (symmetrized)
    edge list: each round recomputes degrees, keeps vertices with
    degree ≥ k, and drops every edge touching a peeled vertex.
    Enough rounds converge to the k-core (the maximal subgraph where
    every vertex has degree ≥ k); a FIXED round count keeps the
    result deterministic and ANSI-SQL-replayable — the same
    unrolled-iteration contract as ``pagerank``.

    Returns the surviving vertices with their degree in the final
    surviving subgraph (NOT the original graph).

    Scale shape per round: one partial-agg'd degree count + two
    semi-joins keyed on the endpoints — |E| narrow rows, no vertex
    state beyond (node, deg). The edge set shrinks monotonically and
    is checkpointed per round (lineage truncation; without it round R
    replays rounds 1..R-1).
    """
    e = edges.select("src", "dst") \
        .localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select(
            F.col("src").alias("node"))
        e = (e.join(keep.withColumnRenamed("node", "src"), "src",
                    "left_semi")
             .join(keep.withColumnRenamed("node", "dst"), "dst",
                   "left_semi")
             .localCheckpoint(eager=True))
    return e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")) \
        .select(F.col("src").alias("node"), "deg")


def label_propagation(edges: DataFrame, weight: str | None = None,
                      rounds: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection over an
    UNDIRECTED (symmetrized) edge list → ``(node, community)``.

    labels₀(v) = v; each round every node adopts the label with the
    largest total incident edge weight among its neighbours' CURRENT
    labels, ties broken by the SMALLEST label — fully deterministic,
    no randomized node order (the async classic), so a fixed round
    count is ANSI-SQL-replayable as unrolled CTEs (the contract shared
    with ``pagerank``/``kcore_peel``/``bfs_distances``). This is the
    GraphFrames/GraphX LPA formulation expressed as DataFrame
    join-aggregates. Distinct from connected components: CC merges
    everything reachable; LPA splits a connected graph into densely
    linked communities.

    Integer weights (co-occurrence counts) keep the tally an exact
    BIGINT sum — no float summation-order hazard between engines.

    Scale shape per round: edges ⋈ labels on src (narrow (node,
    label) rows broadcast when small), partial-agg'd groupBy
    (node, label), one max-by window per node — |E| rows shuffled
    per round, labels checkpointed so round R never replays 1..R-1.
    Synchronous LPA can oscillate 2-cycles on bipartite-ish regions;
    a fixed even/odd round count pins which phase is reported (at
    real scale run to a stability fraction instead).
    """
    from pyspark.sql import Window

    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    e = edges.select(F.col("src").alias("e_src"),
                     F.col("dst").alias("e_dst"), w.alias("w")) \
        .localCheckpoint(eager=True)
    labels = (e.select(F.col("e_src").alias("node"))
              .unionByName(e.select(F.col("e_dst").alias("node")))
              .distinct()
              .select("node", F.col("node").alias("label"))
              .localCheckpoint(eager=True))
    pick = Window.partitionBy("node").orderBy(
        F.desc("wt"), F.asc("label"))
    for _ in range(rounds):
        tallies = (e.join(labels.withColumnRenamed("node", "e_src"),
                          "e_src")
                   .groupBy(F.col("e_dst").alias("node"), "label")
                   .agg(F.sum("w").alias("wt")))
        picked = (tallies
                  .withColumn("rn", F.row_number().over(pick))
                  .filter(F.col("rn") == 1)
                  .select("node", "label"))
        labels = picked.localCheckpoint(eager=True)
    return labels.select("node", F.col("label").alias("community"))


def modularity(edges: DataFrame, communities: DataFrame,
               weight: str | None = None) -> DataFrame:
    """Per-community modularity decomposition over an UNDIRECTED
    (symmetrized) edge list + a ``(node, community)`` assignment →
    ``(community, n_nodes, internal_weight, degree_weight,
    contribution)`` where Newman's Q = Σ contribution =
    Σ_c [ w_in(c)/W − (deg(c)/2W)² ] with W = total edge weight
    (each undirected edge counted once) — the standard quality score
    for a community assignment (Newman & Girvan 2004), i.e. the
    judge of what ``label_propagation`` produced.

    INTEGER weights keep w_in, deg and W exact BIGINTs; only the two
    final divides are float — bit-replayable. Shape: edges join the
    (node, community) dim twice (broadcastable at any graph where
    communities fit — and they're node-sized, same as every label
    table here), one partial-agg'd groupBy per term.
    """
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    e = edges.select(F.col("src").alias("e_src"),
                     F.col("dst").alias("e_dst"), w.alias("w")) \
        .localCheckpoint(eager=True)
    lab = communities.select(F.col(communities.columns[0]).alias("node"),
                             F.col(communities.columns[1])
                             .alias("community")).localCheckpoint(eager=True)
    # symmetrized list counts every undirected edge twice ⇒ 2W = Σw
    tot2w = e.agg(F.sum("w")).first()[0]
    if not tot2w:
        raise ValueError("modularity() needs a non-empty edge list "
                         "with positive total weight")
    labeled = (e.join(lab.withColumnRenamed("node", "e_src")
                      .withColumnRenamed("community", "c_src"), "e_src")
               .join(lab.withColumnRenamed("node", "e_dst")
                     .withColumnRenamed("community", "c_dst"), "e_dst"))
    # internal weight per community (each undirected internal edge
    # appears twice in the symmetrized list ⇒ /2 later vs W = tot2w/2
    # cancels: w_in/W = sym_internal/tot2w · ... keep exact ints and
    # do the algebra once, in both engines identically)
    internal = (labeled.filter(F.col("c_src") == F.col("c_dst"))
                .groupBy(F.col("c_src").alias("community"))
                .agg(F.sum("w").alias("int2")))
    degs = (labeled.groupBy(F.col("c_src").alias("community"))
            .agg(F.sum("w").alias("deg")))
    nnodes = lab.groupBy("community").agg(
        F.count(F.lit(1)).alias("n_nodes"))
    return (nnodes.join(degs, "community", "left")
            .join(internal, "community", "left")
            .select(
                "community", "n_nodes",
                F.coalesce(F.col("int2"), F.lit(0)).alias("internal_weight"),
                F.coalesce(F.col("deg"), F.lit(0)).alias("degree_weight"),
                F.round(
                    F.coalesce(F.col("int2"), F.lit(0)).cast("double")
                    / F.lit(float(tot2w))
                    - (F.coalesce(F.col("deg"), F.lit(0)).cast("double")
                       / F.lit(float(tot2w))) ** 2, 9)
                .alias("contribution")))


def bfs_distances(edges: DataFrame, seeds: DataFrame,
                  max_depth: int) -> DataFrame:
    """Fixed-depth multi-source BFS over an UNDIRECTED (symmetrized)
    edge list: dist(v) = min hops from any seed, up to ``max_depth``
    (unreached nodes are absent). The fixed depth keeps the result
    deterministic and SQL-replayable — the unrolled-iteration
    contract shared with ``pagerank``/``kcore_peel``; at real scale
    the same loop runs to frontier exhaustion instead.

    Scale shape per round: frontier ⋈ edges on the src key (the
    frontier is usually the small side → broadcast), distinct on the
    new frontier, anti-join against visited — all narrow (node, dist)
    rows; frontier and visited are checkpointed per round so round d
    doesn't replay rounds 1..d-1.
    """
    node_col = seeds.columns[0]
    e = edges.select(F.col("src").alias("e_src"),
                     F.col("dst").alias("e_dst")).localCheckpoint(eager=True)
    visited = seeds.select(F.col(node_col).alias("node"),
                           F.lit(0).alias("dist")).localCheckpoint(eager=True)
    frontier = visited
    for d in range(1, max_depth + 1):
        nxt = (frontier.join(e, frontier["node"] == e["e_src"])
               .select(F.col("e_dst").alias("node")).distinct()
               .join(visited, "node", "left_anti")
               .withColumn("dist", F.lit(d))
               .localCheckpoint(eager=True))
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def deterministic_walks(edges: DataFrame, steps: int,
                        walks_per_node: int = 1) -> DataFrame:
    """DeepWalk/node2vec-style random-walk corpus generation over an
    UNDIRECTED (symmetrized) edge list → ``(walk_id, step, node)``
    rows, ``walks_per_node`` walks of ``steps`` hops from every node
    (step 0 is the start; a walk stops early only if its node is
    isolated, which a symmetrized edge list precludes).

    "Random" is a DETERMINISTIC hash choice: from node c at step t of
    walk w, the next hop is the neighbor x minimizing
    md5(w ':' t ':' c ':' x) — i.i.d.-uniform per (walk, step, node)
    for hash purposes but fully reproducible, so (a) a re-run after a
    failure regenerates byte-identical training corpora (the property
    RNG-per-executor walks lose the moment partitioning changes), and
    (b) a fixed step count is ANSI-SQL-replayable via arg-min CTEs —
    the unrolled-iteration contract shared with ``pagerank``. md5
    ties are impossible on distinct strings.

    Scale shape per step: frontier ⋈ adjacency on the current node
    (one narrow shuffle of (walk_id, cur) rows), min_by aggregate per
    walk — |walks| rows carried, checkpointed so step t never replays
    1..t-1. Corpus size is walks·steps rows ≫ |V|: at 100 TB the walk
    table, not the graph, is the big output, and it streams to the
    sink partitioned by walk_id with no global sort.
    """
    a, b = F.col("src"), F.col("dst")
    und = (edges.select(F.least(a, b).alias("a"),
                        F.greatest(a, b).alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    adj = und.select(F.col("a").alias("cur"), F.col("b").alias("nxt")) \
        .unionByName(und.select(F.col("b").alias("cur"),
                                F.col("a").alias("nxt"))) \
        .localCheckpoint(eager=True)
    nodes = adj.select(F.col("cur").alias("node")).distinct()
    reps = nodes.sparkSession.range(walks_per_node) \
        .select(F.col("id").alias("r"))
    walks = nodes.crossJoin(F.broadcast(reps)) \
        .select((F.col("node") * walks_per_node + F.col("r"))
                .alias("walk_id"),
                F.col("node").alias("cur"))
    out = walks.select("walk_id", F.lit(0).alias("step"),
                       F.col("cur").alias("node"))
    frontier = walks.localCheckpoint(eager=True)
    for t in range(1, steps + 1):
        nxt = (frontier.join(adj, "cur")
               .groupBy("walk_id")
               .agg(F.min_by(
                   "nxt",
                   F.md5(F.concat_ws(
                       ":", F.col("walk_id"), F.lit(t),
                       F.col("cur"), F.col("nxt"))))
                   .alias("cur"))
               .localCheckpoint(eager=True))
        out = out.unionByName(
            nxt.select("walk_id", F.lit(t).alias("step"),
                       F.col("cur").alias("node")))
        frontier = nxt
    return out


def degree_stats(edges: DataFrame, dmin: int = 2) -> DataFrame:
    """One-row degree datasheet for an undirected edge list:
    ``(n_nodes, n_edges, max_degree, mean_degree, alpha_hill)``.

    ``alpha_hill`` is the discrete power-law exponent MLE (Clauset,
    Shalizi & Newman 2009, eq. 3.7): over the k nodes with degree ≥
    dmin, alpha = 1 + k / Σ ln(deg / (dmin − ½)). Everything reduces
    to ONE degree aggregation (partial map-side) followed by a
    per-distinct-degree rollup — the ln sum runs over ≤ max_degree
    rows weighted by exact integer counts, so at 100 TB the float
    arithmetic happens on a vocabulary-of-degrees-sized table, not
    per node. Callers round alpha for cross-engine display.
    """
    und = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    deg = (und.select(F.col("a").alias("node"))
           .unionAll(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    byd = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("cnt"))
    n_edges = und.count()
    tail = byd.filter(F.col("deg") >= dmin)
    return (byd.agg(
        F.sum("cnt").cast("bigint").alias("n_nodes"),
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.max("deg").cast("bigint").alias("max_degree"),
        (F.sum(F.col("deg") * F.col("cnt"))
         / F.sum("cnt")).alias("mean_degree"))
        .crossJoin(tail.agg(
            (1.0 + F.sum("cnt")
             / F.sum(F.col("cnt")
                     * F.log(F.col("deg") / (dmin - 0.5))))
            .alias("alpha_hill"))))


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Newman degree assortativity r for an undirected edge list —
    the Pearson correlation of endpoint degrees over the symmetrized
    edge set. One row: ``(n_edge_ends, r)``.

    r > 0: hubs attach to hubs (social nets); r < 0: hubs attach to
    leaves (catalogs, k-ary trees) — with ``degree_stats`` this is
    the two-number skew fingerprint that picks the salting strategy.
    All five moment sums are exact BIGINTs (degrees are integers), so
    the single double formula at the end is bit-replayable; the heavy
    lifting is one degree agg + one edge-end join, both on the edge
    key — no new shuffle shape.
    """
    und = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
           .unionAll(edges.select(F.col("dst").alias("a"),
                                  F.col("src").alias("b"))))
    deg = (und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
           .withColumnRenamed("a", "node"))
    ends = (und
            .join(deg.select(F.col("node").alias("a"),
                             F.col("deg").alias("da")), "a")
            .join(deg.select(F.col("node").alias("b"),
                             F.col("deg").alias("db")), "b"))
    m = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("da").alias("s1"), F.sum("db").alias("s2"),
        F.sum(F.col("da") * F.col("db")).alias("s12"),
        F.sum(F.col("da") * F.col("da")).alias("s11"),
        F.sum(F.col("db") * F.col("db")).alias("s22"))
    mm, s1, s2 = F.col("m"), F.col("s1"), F.col("s2")
    s12, s11, s22 = F.col("s12"), F.col("s11"), F.col("s22")
    # each factor is an exact int that fits a double; multiply in
    # DOUBLE — the int64 product of two ~1e10 factors would overflow
    num = (mm * s12 - s1 * s2).cast("double")
    den = F.sqrt((mm * s11 - s1 * s1).cast("double")
                 * (mm * s22 - s2 * s2).cast("double"))
    return m.select(
        mm.cast("bigint").alias("n_edge_ends"),
        F.when(den != 0, num / den).alias("r"))


def harmonic_centrality(edges: DataFrame, seeds: DataFrame,
                        max_depth: int) -> DataFrame:
    """Seed-sampled harmonic closeness centrality over an UNDIRECTED
    (symmetrized) edge list → ``(node, n_reached, harmonic)`` where
    harmonic(v) = Σ_{s ∈ seeds, s≠v, d(s,v)≤max_depth} 1/d(s,v) —
    the Boldi-Vigna estimator shape: exact harmonic centrality uses
    every node as a seed; a fixed seed SAMPLE (their scale answer)
    is the same computation with fewer sources, and a fixed
    ``max_depth`` keeps it deterministic/SQL-replayable (the
    unrolled-iteration contract shared with ``bfs_distances``).

    The per-seed BFS is ONE loop, not |seeds| loops: the seed id
    rides inside the frontier key, so the state is (seed, node, dist)
    and each round is frontier ⋈ edges + distinct + anti-join vs
    visited keyed on (seed, node) — |seeds|× the rows of a
    single-source BFS through the SAME number of jobs. Distances are
    exact integers; only the final Σ 1/d is floating (≤ |seeds|
    terms, summed in one partial-agg'd groupBy).
    """
    node_col = seeds.columns[0]
    e = edges.select(F.col("src").alias("e_src"),
                     F.col("dst").alias("e_dst")).localCheckpoint(eager=True)
    visited = seeds.select(F.col(node_col).alias("seed"),
                           F.col(node_col).alias("node"),
                           F.lit(0).alias("dist")) \
        .distinct().localCheckpoint(eager=True)
    frontier = visited
    for d in range(1, max_depth + 1):
        nxt = (frontier.join(e, frontier["node"] == e["e_src"])
               .select("seed", F.col("e_dst").alias("node")).distinct()
               .join(visited, ["seed", "node"], "left_anti")
               .withColumn("dist", F.lit(d))
               .localCheckpoint(eager=True))
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return (visited.filter(F.col("dist") > 0)
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_reached"),
                 F.round(F.sum(F.lit(1.0) / F.col("dist")), 6)
                 .alias("harmonic")))


def betweenness_sampled(edges: DataFrame, seeds: DataFrame,
                        max_depth: int) -> DataFrame:
    """Seed-sampled betweenness centrality (Brandes' algorithm with a
    fixed source sample — the standard approximation at scale) over
    an UNDIRECTED (symmetrized) edge list →
    ``(node, betweenness)`` = Σ_s δ_s(v) over the sampled sources,
    δ from Brandes' dependency accumulation restricted to shortest
    paths of ≤ ``max_depth`` hops (the fixed-depth determinism
    contract shared with ``bfs_distances``/``harmonic_centrality``).

    Two relational passes per depth level, ALL sources in one job:
    - forward: level L_d holds (seed, node, σ) with σ(v) =
      Σ_{u ∈ L_{d−1}, u→v} σ(u) — the shortest-path COUNT recurrence;
      one frontier ⋈ edges + partial-agg'd groupBy per level, visited
      anti-join keyed (seed, node). σ is an exact BIGINT.
    - backward: δ(v) over L_d from L_{d+1}:
      δ(v) = Σ_{w ∈ L_{d+1}, v→w} (σ_v/σ_w)·(1+δ(w)) — one join per
      level, deepest first, nothing iterative beyond the unrolled
      depth. Only this ratio is floating.

    Endpoints don't count (δ excludes the source; targets contribute
    through the 1+δ term only), matching Brandes exactly; with every
    node as a seed and enough depth this IS exact betweenness (up to
    the undirected double-count convention — divide by 2 if needed).
    """
    node_col = seeds.columns[0]
    # distinct: σ is a path COUNT — a duplicated edge row would count
    # the same shortest path twice (Brandes is defined on simple
    # graphs)
    e = edges.select(F.col("src").alias("e_src"),
                     F.col("dst").alias("e_dst")).distinct() \
        .localCheckpoint(eager=True)
    lvl0 = seeds.select(F.col(node_col).alias("seed"),
                        F.col(node_col).alias("node")).distinct() \
        .withColumn("sigma", F.lit(1).cast("long")) \
        .localCheckpoint(eager=True)
    levels = [lvl0]
    visited = lvl0.select("seed", "node")
    for _ in range(max_depth):
        fr = levels[-1]
        nxt = (fr.join(e, fr["node"] == e["e_src"])
               .select("seed", F.col("e_dst").alias("nnode"), "sigma")
               .groupBy("seed", F.col("nnode").alias("node"))
               .agg(F.sum("sigma").alias("sigma"))
               .join(visited, ["seed", "node"], "left_anti")
               .localCheckpoint(eager=True))
        levels.append(nxt)
        visited = visited.unionByName(nxt.select("seed", "node")) \
            .localCheckpoint(eager=True)

    # backward accumulation, deepest level first
    delta = levels[-1].select(
        "seed", "node", F.lit(0.0).alias("delta"))
    acc = None
    for d in range(max_depth - 1, -1, -1):
        cur = levels[d]
        # σ(w) from the level-(d+1) table, δ(w) from the previous
        # backward step
        down = (levels[d + 1].select(
            "seed", F.col("node").alias("w"),
            F.col("sigma").alias("w_sigma"))
            .join(delta.select("seed",
                               F.col("node").alias("w"), "delta"),
                  ["seed", "w"]))
        contrib = (cur.join(e, cur["node"] == e["e_src"])
                   .select("seed", "node", "sigma",
                           F.col("e_dst").alias("w"))
                   .join(down, ["seed", "w"])
                   .groupBy("seed", "node", "sigma")
                   .agg(F.sum((F.col("sigma").cast("double")
                               / F.col("w_sigma"))
                              * (F.lit(1.0) + F.col("delta")))
                        .alias("delta")))
        # nodes of this level with no downstream get delta 0
        delta = (cur.join(contrib.select("seed", "node", "delta"),
                          ["seed", "node"], "left")
                 .select("seed", "node", "sigma",
                         F.coalesce(F.col("delta"), F.lit(0.0))
                         .alias("delta"))
                 .localCheckpoint(eager=True))
        nonsrc = delta.filter(F.col("node") != F.col("seed")) \
            .select("seed", "node", "delta")
        acc = nonsrc if acc is None else acc.unionByName(nonsrc)

    return (acc.groupBy("node")
            .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
            .filter(F.col("betweenness") > 0))


def ktruss_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-truss peeling over an undirected edge list →
    the surviving canonical edges ``(a, b, support)`` (a < b).

    The k-truss is the maximal subgraph where every edge sits in ≥
    k−2 triangles OF THE SUBGRAPH — the edge-analogue of k-core and
    the standard dense-community miner (cohesion by shared context,
    not just degree). Each round: enumerate triangles on the CURRENT
    edge set as an id-ordered 3-way self-join (a<b<c finds each
    exactly once), explode each into its 3 edges, partial-agg the
    per-edge support, and keep edges with support ≥ k−2. Enough
    rounds reach the fixpoint; the FIXED count keeps it
    deterministic/SQL-replayable (the unrolled-iteration contract of
    ``kcore_peel``). The surviving edge set shrinks monotonically and
    is checkpointed per round.

    Skew note: the id-ordered join keeps the replay trivially exact;
    on power-law graphs swap the enumeration for the degree-ordered
    orientation of ``triangle_counts`` (O(m^1.5) wedge bound) — the
    support arithmetic downstream is identical.
    """
    a, b = F.col("src"), F.col("dst")
    cur = (edges.select(F.least(a, b).alias("a"),
                        F.greatest(a, b).alias("b"))
           .filter(F.col("a") != F.col("b")).distinct()
           .localCheckpoint(eager=True))
    out = cur.withColumn("support", F.lit(0).cast("long"))
    for _ in range(rounds):
        e1 = cur
        e2 = cur.select(F.col("a"), F.col("b").alias("c"))
        e3 = cur.select(F.col("a").alias("b"), F.col("b").alias("c"))
        tri = (e1.join(e2, "a").filter(F.col("b") < F.col("c"))
               .join(e3, ["b", "c"]))
        arms = (tri.select("a", "b")
                .unionByName(tri.select("a", F.col("c").alias("b")))
                .unionByName(tri.select(F.col("b").alias("a"),
                                        F.col("c").alias("b"))))
        sup = arms.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support"))
        out = (cur.join(sup, ["a", "b"], "left")
               .select("a", "b",
                       F.coalesce(F.col("support"), F.lit(0))
                       .alias("support"))
               .filter(F.col("support") >= k - 2)
               .localCheckpoint(eager=True))
        cur = out.select("a", "b")
    return out


def luby_mis(edges: DataFrame, rounds: int) -> DataFrame:
    """Luby's maximal-independent-set algorithm with DETERMINISTIC
    priorities over an undirected edge list → ``(node, mis_round)``
    for every node that joined the MIS within ``rounds`` rounds.

    Per round r, every still-active node draws the priority
    ``(h60(r ':' node), node)`` — md5-uniform for independence
    purposes yet byte-replayable (the engine's standard derandomized-
    RNG trick, cf. ``deterministic_walks``); a node joins the MIS iff
    its priority beats EVERY active neighbor's (strict total order —
    the id tiebreak makes ties impossible), then MIS members and
    their neighbors deactivate. Luby's theorem gives O(log n)
    expected rounds to classify everyone; the FIXED round count keeps
    the unrolled-iteration SQL contract, returning the (independent,
    prefix-maximal) set found so far. Isolated actives have no
    neighbor to lose to, so they join immediately.

    The MIS is the standard symmetry-breaking primitive (conflict-free
    update scheduling, distance-2 coloring seeds, landmark selection).
    Per round: one partial-agg'd min over each node's active-neighbor
    priorities + two anti-joins — all narrow (node, h) rows,
    checkpointed per round.
    """
    from ..operators.sketches import _h60

    a, b = F.col("src"), F.col("dst")
    und = (edges.select(F.least(a, b).alias("a"),
                        F.greatest(a, b).alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    active_e = und.localCheckpoint(eager=True)
    active_n = (active_e.select(F.col("a").alias("node"))
                .unionByName(active_e.select(F.col("b").alias("node")))
                .distinct().localCheckpoint(eager=True))
    out = None
    for r in range(1, rounds + 1):
        pri = active_n.select(
            "node",
            _h60(F.concat_ws(":", F.lit(r), F.col("node")))
            .alias("h"))
        sym = (active_e.select(F.col("a").alias("node"),
                               F.col("b").alias("nb"))
               .unionByName(active_e.select(F.col("b").alias("node"),
                                            F.col("a").alias("nb"))))
        nb_best = (sym.join(pri.select(F.col("node").alias("nb"),
                                       F.col("h").alias("nb_h"),
                                       ), "nb")
                   .groupBy("node")
                   .agg(F.min(F.struct(F.col("nb_h").alias("h"),
                                       F.col("nb").alias("n")))
                        .alias("best")))
        winners = (pri.join(nb_best, "node", "left")
                   .filter(F.col("best").isNull()
                           | (F.struct(F.col("h"),
                                       F.col("node").alias("n"))
                              < F.col("best")))
                   .select("node").withColumn("mis_round", F.lit(r))
                   .localCheckpoint(eager=True))
        out = winners if out is None else out.unionByName(winners)
        # deactivate winners + their neighbors
        dead = (winners.select("node")
                .unionByName(
                    sym.join(winners.select(F.col("node").alias("nb")),
                             "nb").select("node"))
                .distinct())
        active_n = active_n.join(dead, "node", "left_anti") \
            .localCheckpoint(eager=True)
        active_e = (active_e
                    .join(active_n.select(F.col("node").alias("a")), "a")
                    .join(active_n.select(F.col("node").alias("b")), "b")
                    .localCheckpoint(eager=True))
    return out


def wl_refine(edges: DataFrame, labels: DataFrame,
              iterations: int = 2) -> DataFrame:
    """Weisfeiler-Lehman color refinement over an undirected graph.

    Each round replaces a node's label with
    ``md5(old_label | sorted multiset of neighbor labels)`` — after k
    rounds two nodes share a color only if their k-hop neighborhood
    trees agree, the standard structural signature for graph-level
    dedup/blocking (WL kernel) and a cheap isomorphism sieve for
    canonicalized entity neighborhoods.

    Scale shape per round: ONE join of the symmetrized edge list with
    the current (node, label) map — both keyed on node id, so AQE
    co-partitions them — and ONE (node)-keyed aggregation whose
    ``collect_list`` is degree-bounded. No windows, no driver state;
    k rounds = k join+agg stages, the same shape GraphFrames uses for
    aggregateMessages. Isolated nodes keep hashing their own label
    (empty neighbor multiset), matching the WL definition.
    """
    sym = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
           .unionByName(edges.select(F.col("dst").alias("a"),
                                     F.col("src").alias("b")))
           .distinct())
    cur = labels.select(F.col("id").alias("a"),
                        F.col("label").cast("string").alias("lbl"))
    for _ in range(iterations):
        nb = (sym.join(cur.select(F.col("a").alias("b"),
                                  F.col("lbl").alias("nb_lbl")), "b")
              .groupBy("a")
              .agg(F.concat_ws(",", F.array_sort(
                  F.collect_list("nb_lbl"))).alias("sig")))
        cur = (cur.join(nb, "a", "left")
               .select("a",
                       F.md5(F.concat_ws(
                           "|", F.col("lbl"),
                           F.coalesce(F.col("sig"), F.lit(""))))
                       .alias("lbl")))
    return cur.select(F.col("a").alias("id"), F.col("lbl").alias("label"))


def node2vec_walks(edges: DataFrame, steps: int,
                   p_mult: int = 4, q_mult: int = 2) -> DataFrame:
    """Second-order (node2vec-style) biased walk corpus over an
    UNDIRECTED edge list -> ``(walk_id, step, node)`` rows, one walk
    per node.

    The bias is node2vec's return/in-out split (Grover & Leskovec
    2016): from ``cur`` with predecessor ``prev``, a candidate next
    hop is penalized by an integer multiplier — ``p_mult`` if it
    returns to ``prev``, 1 if it stays in ``prev``'s neighborhood
    (BFS-like), ``q_mult`` otherwise (DFS-like) — and the hop chosen
    MINIMIZES ``hash60(walk:step:cur:cand) * mult`` with a (score,
    cand) tie-break. Scaled-integer-hash argmin is the deterministic
    surrogate for weighted sampling this repo uses everywhere
    (operators/sampling.py): reproducible across reruns, partition
    layouts and engines — exact 64-bit integer arithmetic, never a
    float draw — and ANSI-SQL-replayable by unrolling steps.

    Scale shape per step: frontier ⋈ adjacency on ``cur`` (one narrow
    shuffle), then ONE left join against the adjacency keyed on the
    (prev, cand) PAIR to classify the in-neighborhood case, then a
    per-walk min — |walks|·degree rows in flight, checkpointed so
    step t never replays 1..t-1. Step 1 has no predecessor and is
    unbiased, matching the definition.
    """
    a, b = F.col("src"), F.col("dst")
    und = (edges.select(F.least(a, b).alias("a"),
                        F.greatest(a, b).alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    adj = und.select(F.col("a").alias("cur"), F.col("b").alias("nxt")) \
        .unionByName(und.select(F.col("b").alias("cur"),
                                F.col("a").alias("nxt"))) \
        .localCheckpoint(eager=True)
    frontier = (adj.select(F.col("cur").alias("node")).distinct()
                .select(F.col("node").alias("walk_id"),
                        F.col("node").alias("cur"),
                        F.lit(None).cast(adj.schema["cur"].dataType)
                        .alias("prev")))
    out = frontier.select("walk_id", F.lit(0).alias("step"),
                          F.col("cur").alias("node"))
    h60 = None
    for t in range(1, steps + 1):
        cand = frontier.join(adj, "cur")
        # classify: return to prev / prev's neighborhood / beyond
        nb_of_prev = adj.select(F.col("cur").alias("prev"),
                                F.col("nxt").alias("_pn"),
                                F.lit(1).alias("_in_nb"))
        cand = (cand.join(nb_of_prev,
                          (cand["prev"] == nb_of_prev["prev"])
                          & (cand["nxt"] == nb_of_prev["_pn"]),
                          "left")
                .select(cand["walk_id"], cand["cur"], cand["prev"],
                        cand["nxt"], F.col("_in_nb")))
        mult = (F.when(F.col("prev").isNull(), F.lit(1))
                .when(F.col("nxt") == F.col("prev"), F.lit(p_mult))
                .when(F.col("_in_nb").isNotNull(), F.lit(1))
                .otherwise(F.lit(q_mult)).cast("long"))
        h60 = F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.col("walk_id"), F.lit(t), F.col("cur"),
            F.col("nxt"))), 1, 15), 16, 10).cast("long")
        nxt = (cand
               .select("walk_id", F.col("cur").alias("prev_next"),
                       F.struct((h60 * mult).alias("score"),
                                F.col("nxt").alias("n")).alias("sn"))
               .groupBy("walk_id", "prev_next")
               .agg(F.min("sn").alias("best"))
               .select("walk_id", F.col("best.n").alias("cur"),
                       F.col("prev_next").alias("prev"))
               .localCheckpoint(eager=True))
        out = out.unionByName(
            nxt.select("walk_id", F.lit(t).alias("step"),
                       F.col("cur").alias("node")))
        frontier = nxt
    return out


def neighbor_sample(edges: DataFrame, fanouts: list[int]) -> DataFrame:
    """GraphSAGE-style layered neighbor sampling over an undirected
    edge list -> ``(seed, layer, node)`` rows: layer 0 is every node,
    layer i keeps at most ``fanouts[i-1]`` neighbors of each frontier
    node, deterministically — neighbors ranked by
    ``md5(ns:seed:layer:node:neighbor)`` so the minibatch a GNN
    trainer sees is reproducible across reruns and partitionings
    (RNG-per-executor sampling is not), and SQL-replayable.

    Scale shape per layer: frontier ⋈ adjacency on the current node
    (one keyed shuffle), per-(seed, node) top-k via a window over a
    DEGREE-BOUNDED partition — never a corpus-wide sort; the frontier
    is deduplicated per seed before the next hop so fan-out growth is
    bounded by Π fanouts. This is the batch-side data prep a
    distributed GNN (GraphSAGE/PinSAGE) consumes at catalog scale.
    """
    from pyspark.sql.window import Window

    a, b = F.col("src"), F.col("dst")
    und = (edges.select(F.least(a, b).alias("a"),
                        F.greatest(a, b).alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    adj = und.select(F.col("a").alias("cur"), F.col("b").alias("nxt")) \
        .unionByName(und.select(F.col("b").alias("cur"),
                                F.col("a").alias("nxt"))) \
        .localCheckpoint(eager=True)
    frontier = (adj.select(F.col("cur").alias("node")).distinct()
                .select(F.col("node").alias("seed"),
                        F.col("node").alias("cur")))
    out = frontier.select("seed", F.lit(0).alias("layer"),
                          F.col("cur").alias("node"))
    for i, k in enumerate(fanouts, start=1):
        cand = frontier.join(adj, "cur")
        rk = F.md5(F.concat_ws(":", F.lit("ns"), F.col("seed"),
                               F.lit(i), F.col("cur"),
                               F.col("nxt")))
        w = Window.partitionBy("seed", "cur").orderBy(rk)
        picked = (cand.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") <= k)
                  .select("seed", F.col("nxt").alias("node"))
                  .distinct())
        out = out.unionByName(
            picked.select("seed", F.lit(i).alias("layer"), "node"))
        frontier = picked.select("seed", F.col("node").alias("cur")) \
            .localCheckpoint(eager=True)
    return out
