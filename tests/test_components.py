from fashion_knowledge_graph_spark.operators import components as cc
from fashion_knowledge_graph_spark.operators import linking as lk
from tests.conftest import rows_set


def _driver_canon(catalog):
    """canonical_mapping with the catalog's driver-fit decision — the
    pack, for every catalog these tests build."""
    return cc.canonical_mapping(catalog, lk.pack_catalog(catalog))


def test_canonical_mapping_matches_oracle(spark, catalog_df, oracle_out):
    got = _driver_canon(catalog_df)
    exp = [(k, v) for k, v in oracle_out["canon"].items()]
    import pandas as pd

    exp_df = pd.DataFrame(exp, columns=["product_id", "canonical_id"])
    assert rows_set(got, ["product_id", "canonical_id"]) == \
        rows_set(exp_df, ["product_id", "canonical_id"])


def test_components_collapse_duplicates(spark, catalog_df, catalog_pdf):
    got = _driver_canon(catalog_df).toPandas()
    merged = got.merge(catalog_pdf[["product_id", "entity_key"]], on="product_id")
    # every ground-truth duplicate group maps to exactly one canonical id
    per_entity = merged.groupby("entity_key")["canonical_id"].nunique()
    assert (per_entity == 1).all()
    # and the canonical id is the minimum product_id of the group
    mins = merged.groupby("entity_key")["product_id"].min()
    canons = merged.groupby("entity_key")["canonical_id"].first()
    assert (mins == canons).all()


def test_distributed_cc_equals_driver_cc(spark, catalog_df):
    """Both physical strategies must produce identical components."""
    pairs = cc.near_duplicate_pairs(catalog_df, cc.DUP_COSINE)
    drv = cc.connected_components(pairs, catalog_df, id_col="product_id")
    dist = cc._cc_label_propagation(pairs, catalog_df, id_col="product_id")
    assert sorted(map(tuple, drv.collect())) == \
        sorted(map(tuple, dist.collect()))


def test_driver_canonical_equals_lsh_canonical(spark, catalog_df,
                                              monkeypatch):
    """Driver and LSH canonicalization agree — also when the driver's
    row blocks (3 rows) are smaller than a (type, color) group."""
    dist = sorted(map(tuple, cc.canonical_mapping(
        catalog_df, None).collect()))
    assert any(p != c for p, c in dist)
    assert catalog_df.groupBy("type", "color").count() \
        .agg({"count": "max"}).first()[0] > 6
    for block in (cc._SIM_BLOCK, 3):
        monkeypatch.setattr(cc, "_SIM_BLOCK", block)
        assert sorted(map(tuple, _driver_canon(
            catalog_df).collect())) == dist


def test_canonical_paths_agree_on_unnormalized_catalog(spark):
    """Both paths score the cosine, not the raw dot product: a
    duplicate whose embedding is scaled by 0.5 merges on the driver
    path and on the LSH path alike."""
    import numpy as np

    from fashion_knowledge_graph_spark import taxonomy as tx

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, tx.IMG_DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        dup = v + rng.normal(scale=1e-3, size=tx.IMG_DIM)
        for j, vec in enumerate((v, dup * 0.5 if i < 3 else dup)):
            rows.append((f"p{2 * i + j:02d}", f"t{i % 2}", f"c{i % 3}",
                         "cat", "unisex", [float(x) for x in vec]))
    cat = spark.createDataFrame(
        rows, "product_id string, type string, color string, "
              "category string, gender string, embedding array<float>")
    drv = sorted(map(tuple, _driver_canon(cat).collect()))
    assert sum(p != c for p, c in drv) == 6
    assert sorted(map(tuple, cc.canonical_mapping(
        cat, None).collect())) == drv


def test_cc_dense_edges_fall_back_to_distributed(spark):
    """Edge-count gate: few vertices but O(n²) edges must not be
    collected to the driver — and the distributed path must still
    produce the right components."""
    n = 12
    verts = spark.createDataFrame([(f"v{i:02d}",) for i in range(n)],
                                  "product_id string")
    # complete graph: 66 edges > 4 * driver_threshold with threshold 10
    pairs = [(f"v{i:02d}", f"v{j:02d}")
             for i in range(n) for j in range(i + 1, n)]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    labels = cc.connected_components(edges, verts, id_col="product_id",
                                     driver_threshold=10)
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == {f"v{i:02d}": "v00" for i in range(n)}


def test_cc_runs_the_edge_plan_once(spark):
    """The driver path's edge-count gate and its union-find read ONE
    limited collect: every edge row is produced once per call, not
    once to count and again to collect."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    produced = spark.sparkContext.accumulator(0)

    def counted(_):
        produced.add(1)
        return True

    keep = F.udf(counted, T.BooleanType())
    n = 12
    verts = spark.createDataFrame([(f"v{i:02d}",) for i in range(n)],
                                  "product_id string")
    edges = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(0, n - 1, 2)],
        "src string, dst string").filter(keep("src"))
    labels = cc.connected_components(edges, verts, id_col="product_id")
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == {f"v{i:02d}": f"v{i - i % 2:02d}" for i in range(n)}
    assert produced.value == n // 2


def test_driver_canonical_leaves_the_pack_unchanged(spark, catalog_df):
    """The pack is shared with linking's broadcast: canonicalization
    must only read it (no in-place normalization)."""
    import numpy as np

    packed = lk.pack_catalog(catalog_df)
    before = {k: [np.copy(a) for a in g] for k, g in packed.items()}
    got = cc.canonical_mapping(catalog_df, packed)
    assert got.count() == catalog_df.count()
    assert before.keys() == packed.keys()
    for k, g in packed.items():
        for a, b in zip(g, before[k], strict=True):
            assert a.dtype == b.dtype, k
            if a.dtype == object:
                assert (a == b).all(), k
            else:
                assert a.tobytes() == b.tobytes(), k


def test_incremental_update_equals_from_scratch(spark, catalog_df):
    """Fold the last ~30% of catalog items into a mapping built from
    the first ~70% — must equal a from-scratch mapping over the full
    catalog (growth-only contract)."""
    from pyspark.sql import functions as F

    old_part = catalog_df.filter(F.crc32("product_id") % 10 < 7)
    old_map = _driver_canon(old_part)
    got = cc.update_canonical_mapping(catalog_df, old_map)
    exp = _driver_canon(catalog_df)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exp.collect()))
    # no-op update returns the mapping unchanged (zero new items)
    again = cc.update_canonical_mapping(catalog_df, got)
    assert sorted(map(tuple, again.collect())) == \
        sorted(map(tuple, got.collect()))


def test_incremental_update_bridges_components(spark):
    """A NEW item near-duplicate to members of TWO previously separate
    components must merge them — the case star edges alone cannot
    produce (it needs the new incident edges)."""
    import math

    import numpy as np

    from fashion_knowledge_graph_spark import taxonomy as tx

    def unit(theta):
        v = np.zeros(tx.IMG_DIM)
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return [float(x) for x in v]

    # cos(A,B) = cos(16°) ≈ 0.961 < 0.98  → A,B separate components
    # cos(A,C) = cos(B,C) = cos(8°) ≈ 0.990 ≥ 0.98 → C bridges them
    rows = [("a", "top", "black", unit(0.0)),
            ("b", "top", "black", unit(math.radians(16.0)))]
    schema = ("product_id string, type string, color string, "
              "embedding array<double>")
    old_cat = spark.createDataFrame(rows, schema)
    old_map = cc.canonical_mapping(old_cat, lk.pack_catalog(old_cat,
                                                            extra=()))
    assert {tuple(r) for r in old_map.collect()} == \
        {("a", "a"), ("b", "b")}

    full_cat = spark.createDataFrame(
        rows + [("c", "top", "black", unit(math.radians(8.0)))], schema)
    got = cc.update_canonical_mapping(full_cat, old_map)
    assert {tuple(r) for r in got.collect()} == \
        {("a", "a"), ("b", "a"), ("c", "a")}
    # the same four-column catalog on both sides of the byte gate
    for packed in (None, lk.pack_catalog(full_cat, extra=())):
        scratch = cc.canonical_mapping(full_cat, packed)
        assert {tuple(r) for r in scratch.collect()} == \
            {tuple(r) for r in got.collect()}


def test_stage_canonical_incremental_and_removal(spark, catalog_df,
                                                 docs_df, tmp_path):
    """Pipeline wiring: a resumed build with a GROWN catalog refreshes
    the canonical snapshot incrementally; a SHRUNK catalog forces a
    from-scratch rebuild (and drops the removed ids)."""
    from pyspark.sql import functions as F

    from fashion_knowledge_graph_spark.plans.pipeline import KGPipeline

    part = catalog_df.filter(F.crc32("product_id") % 10 < 7)
    pipe = KGPipeline(warehouse=str(tmp_path / "wh"))
    m1 = pipe.stage_canonical(part)
    assert m1.count() == part.count()

    m2 = pipe.stage_canonical(catalog_df)          # growth → incremental
    exp = _driver_canon(catalog_df)
    assert sorted(map(tuple, m2.collect())) == \
        sorted(map(tuple, exp.collect()))

    m3 = pipe.stage_canonical(part)                # shrink → rebuild
    exp3 = _driver_canon(part)
    assert sorted(map(tuple, m3.collect())) == \
        sorted(map(tuple, exp3.collect()))
