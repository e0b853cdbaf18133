"""Connected-components canonicalization of duplicate entities.

The reference canonicalizes by exact ``product_id`` only (Neo4j MERGE
key, src/database/graph_database.py:89-92) — near-duplicate listings
stay distinct nodes. The north_rule requires true canonicalization:
detect near-duplicate catalog entities (cosine ≥ threshold) and
collapse each connected component to one canonical id.

``canonical_mapping`` takes one of two paths, chosen by linking's
driver-fit gate (``linking.pack_catalog``). While the catalog fits,
the driver computes exact cosine in row blocks within each
(type, color) group and merges pairs with union-find — the default.
Past the budget, ``near_duplicate_pairs`` (an LSH-blocked cosine
self-join) feeds ``connected_components``, which itself unions on
the driver up to ``driver_threshold`` vertices and beyond that runs
GraphFrames-style min-label propagation as DataFrame self-joins,
lineage cut with ``localCheckpoint`` each round, until a round
changes no label.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.embeddings import make_signature_udf
from . import linking as lk

DUP_COSINE = 0.98


def near_duplicate_pairs(catalog: DataFrame,
                         threshold: float = DUP_COSINE,
                         nbits: int = 64, nbands: int = 8,
                         probe: DataFrame | None = None,
                         id_col: str = "product_id",
                         keys: tuple[str, ...] = ("type", "color"),
                         seed: str = "dedup-img") -> DataFrame:
    """LSH-blocked cosine self-join → (src, dst, score) pairs of
    ``id_col`` values, src < dst, with cosine ≥ threshold — the
    package's one blocked near-duplicate plan (canonicalization,
    ``dedup.embedding_near_dup_auto`` past the driver budget,
    ``dedup.semantic_dedup``).

    The two-phase, narrow-row plan of ``linking.link_lsh``: candidates
    join on ids and the blocking key (``keys``, band, bsig) only — the
    vectors never ride the ``nbands``× replicated join or the dedup —
    then each endpoint's vector joins back by id and
    ``linking._dot_arrow`` scores the pair's cosine. The hyperplanes
    (``seed``) are drawn for the vectors' own width. ``nbits=0,
    nbands=1`` makes every pair sharing ``keys`` a candidate: an exact
    blocked self-join.

    ``probe``: optional subset of catalog rows — restricts the output
    to pairs with at least one endpoint in ``probe`` (the incremental
    canonicalization path: pair generation costs O(|new| × block)
    instead of O(|catalog| × block)). A probe item may collide either
    way round, so the pair is oriented (least, greatest) before the
    dedup; without a probe, id1 < id2 halves the candidates.
    """
    sig = make_signature_udf(nbits, nbands, seed)

    def banded(df, side):
        return df.select(
            *[F.col(x).alias(f"{side}_{x}") for x in (id_col, *keys)],
            F.posexplode(sig("embedding")).alias(f"{side}_band",
                                             f"{side}_bsig"))

    def vec(end):
        return catalog.select(F.col(id_col).alias(end),
                              F.col("embedding").alias(f"{end}_vec"))

    a = banded(catalog if probe is None else probe, "a")
    b = banded(catalog, "b")
    id_a, id_b = F.col(f"a_{id_col}"), F.col(f"b_{id_col}")
    on = [F.col(f"a_{x}") == F.col(f"b_{x}")
          for x in ("band", "bsig", *keys)]
    on.append(id_a < id_b if probe is None else id_a != id_b)
    cand = a.join(b, on, "inner").select(
        F.least(id_a, id_b).alias("src"),
        F.greatest(id_a, id_b).alias("dst")).dropDuplicates()
    paired = cand.join(vec("src"), "src").join(vec("dst"), "dst")
    return lk._dot_arrow(paired, "src_vec", "dst_vec", "score",
                         cosine=True) \
        .filter(F.col("score") >= threshold).select("src", "dst", "score")


def connected_components(edges: DataFrame, vertices: DataFrame,
                         id_col: str = "id",
                         driver_threshold: int = 200_000) -> DataFrame:
    """(src,dst) edges + vertex ids → (id, component) with component =
    min id in the component.

    Physical strategy by graph size (same results either way — pinned
    by tests against a union-find oracle):

    - ≤ ``driver_threshold`` vertices: collect and union-find on the
      driver. Duplicate-entity graphs are catalog-sized — dozens of
      Spark jobs of label propagation over a few thousand rows is
      pure scheduling overhead (it dominated the build's serial
      fraction and capped scaling efficiency).
    - larger: iterative min-label propagation as DataFrame self-joins
      with per-round localCheckpoint (the 100 TB path; at cluster
      scale checkpoint to a table instead).
    """
    # one limited collect per input both gates and feeds union-find:
    # each plan runs once, and the driver holds at most cap + 1 rows.
    # The EDGE gate matters too: a pathological pair generation (e.g.
    # a threshold that matches everything) can produce O(n²) edges
    # under a modest vertex count
    edge_cap = 4 * driver_threshold
    vs = [r[0] for r in vertices.select(id_col)
          .limit(driver_threshold + 1).collect()]
    if len(vs) <= driver_threshold:
        pairs = edges.select("src", "dst").limit(edge_cap + 1).collect()
        if len(pairs) <= edge_cap:
            schema = vertices.select(
                F.col(id_col).alias("id"),
                F.col(id_col).alias("component")).schema
            return vertices.sparkSession.createDataFrame(
                list(_union_find(vs, pairs).items()), schema)
    return _cc_label_propagation(edges, vertices, id_col)


def _union_find(ids, pairs) -> dict:
    """Driver union-find: id → min id of its component. Linking the
    larger root under the smaller keeps every root its component's
    minimum."""
    parent = {v: v for v in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        a, b = find(a), find(b)
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    return {v: find(v) for v in ids}


def _cc_label_propagation(edges: DataFrame, vertices: DataFrame,
                          id_col: str = "id") -> DataFrame:
    """Distributed min-label propagation (GraphFrames-style)."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = vertices.select(F.col(id_col).alias("id")) \
        .withColumn("component", F.col("id")).localCheckpoint(eager=True)
    for _ in range(50):
        msgs = sym.join(labels, sym.src == labels.id, "inner") \
            .select(F.col("dst").alias("id"), "component")
        new_labels = labels.select("id", "component").union(msgs) \
            .groupBy("id").agg(F.min("component").alias("component")) \
            .localCheckpoint(eager=True)
        changed = new_labels.alias("n").join(
            labels.alias("o"), "id").filter(
            F.col("n.component") != F.col("o.component")).count()
        labels = new_labels
        if changed == 0:
            break
    return labels


# row-block height of the driver canonicalization's cosine: a block
# of _SIM_BLOCK rows against its whole (type, color) group bounds the
# similarity buffer at _SIM_BLOCK × group rows of float64
_SIM_BLOCK = 512


def canonical_mapping(catalog: DataFrame, packed: dict | None) -> DataFrame:
    """catalog → (product_id, canonical_id) — identity for singletons.

    ``packed`` is ``linking.pack_catalog(catalog)``, the driver-fit
    decision linking shares. A pack runs entirely on the driver: exact
    cosine within each (type, color) group — the LSH path's blocking
    key — in row blocks, then union-find; each block's dot products are
    divided by the row norms, so the shared pack is only read. Up to
    the gate this beats the LSH self-join and its Spark jobs. ``None``
    takes the LSH-blocked ``near_duplicate_pairs`` + connected
    components. Both paths read only product_id, type, color and
    embedding, score the same cosine (unnormalized embeddings too),
    and give identical results (tests/test_components.py pins both
    paths)."""
    if packed is not None:
        import numpy as np

        ids, pairs = [], []
        for pids, *_, mat in packed.values():
            ids.extend(pids)
            norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-300)
            for lo in range(0, len(pids), _SIM_BLOCK):
                sims = mat[lo:lo + _SIM_BLOCK] @ mat.T
                sims /= norms[lo:lo + _SIM_BLOCK, None]
                sims /= norms
                i, j = np.nonzero(sims >= DUP_COSINE)
                keep = lo + i < j
                pairs.extend(zip(pids[lo + i[keep]], pids[j[keep]]))
        return catalog.sparkSession.createDataFrame(
            sorted(_union_find(ids, pairs).items()),
            "product_id string, canonical_id string")
    pairs = near_duplicate_pairs(catalog)
    labels = connected_components(pairs, catalog, id_col="product_id")
    return labels.select(F.col("id").alias("product_id"),
                         F.col("component").alias("canonical_id"))


def update_canonical_mapping(catalog: DataFrame,
                             old_mapping: DataFrame) -> DataFrame:
    """Fold NEW catalog items into an existing canonical mapping
    without re-generating pairs for the whole catalog — the
    incremental path a 10^12-row catalog actually runs (from-scratch
    pair generation is the expensive stage; folding additions costs
    O(|new| × block), not O(|catalog| × block)).

    Correctness argument: embeddings of existing items are immutable
    (ids are content-addressed, F9), so the from-scratch near-dup
    graph over the grown catalog is exactly (old connectivity) ∪
    (edges incident to a new item). Old connectivity is preserved by
    the old mapping's (member → canonical) star edges; the incident
    edges come from one probe-restricted LSH join. Components — and
    therefore min-id canonical labels — match a full recompute up to
    the banded join's recall (≈0.999 at the 0.98 duplicate threshold;
    the same approximation the from-scratch path makes past the byte
    budget). Pinned exactly equal on fixtures by
    tests/test_components.py, including a new item BRIDGING two
    previously separate components.

    Contract: supports catalog GROWTH only. Star edges stand in for
    pairwise connectivity inside old components, so with deletions
    the caller must rebuild from scratch (``KGPipeline.
    stage_canonical`` detects removals and does exactly that).
    """
    new_items = catalog.join(
        old_mapping.select("product_id"), "product_id", "left_anti")
    if new_items.isEmpty():
        return old_mapping
    pairs = near_duplicate_pairs(catalog, probe=new_items)
    old_edges = old_mapping \
        .filter(F.col("product_id") != F.col("canonical_id")) \
        .select(F.col("product_id").alias("src"),
                F.col("canonical_id").alias("dst"))
    edges = pairs.select("src", "dst").union(old_edges)
    labels = connected_components(edges, catalog, id_col="product_id")
    return labels.select(F.col("id").alias("product_id"),
                         F.col("component").alias("canonical_id"))


def canonicalize(df: DataFrame, mapping: DataFrame,
                 cols: list[str]) -> DataFrame:
    """Rewrite every id column in ``cols`` through the canonical map
    (broadcast when dim-sized — mapping is |catalog| rows; at 1M+ rows
    Spark picks SMJ/shuffled-hash automatically)."""
    out = df
    for c in cols:
        m = mapping.select(F.col("product_id").alias(c),
                           F.col("canonical_id").alias(f"__canon_{c}"))
        out = out.join(m, c, "left").withColumn(
            c, F.coalesce(F.col(f"__canon_{c}"), F.col(c))
        ).drop(f"__canon_{c}")
    return out
