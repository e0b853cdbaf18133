"""End-to-end knowledge-graph construction pipeline.

Spark-first restatement of the reference's two batch entry points
(src/engine/process_catalog.py, src/engine/process_social_media_images.py)
as one declarative lineage over the interleaved docs table:

  docs ──explode──► image mentions ──detect──► embeddings/attrs
        └─explode──► text spans ──lexicon──► doc-level triples
  mentions ⋈ catalog ──top-1≥0.7──► linked mentions
      (one fused broadcast kernel; LSH blocking past the byte budget)
  linked ──self-join i<j──► pairs ──agg──► edges
  catalog ──cosine≥0.98──► near-dups ──CC──► canonical map
      (driver blocks + union-find; LSH self-join past the byte budget)
  linked+edges+triples ──canonicalize──► nodes / edges / triples tables

The build's one setting, ``broadcast_budget_mb`` (the byte budget of
the packed catalog on the driver), feeds one ``linking.pack_catalog``
per build, whose pack (or ``None``) picks the physical path of both
linking and canonicalization.

A build, a stream batch and a delete_product are each one all-or-
nothing write (``_all_or_nothing``). A resumed build links only docs
not in ``processed_docs`` (anti-join on doc_id) and, under an unchanged
canonical mapping, maintains edges/triples by delta. Shuffle inventory:
  1. past the byte budget only: linking join (band,bsig,type,color)
     — AQE skew-split — then candidate dedup + top-1 window
     (doc_id,span_idx); the near-dup LSH self-join on ids, its dedup
     and two by-id embedding joins; CC label propagation once the dup
     graph outgrows the driver
  2. pair self-join (doc_id)               — narrow projected rows
  3. edge aggregation (src,dst,rel)        — map-side partial agg
Everything else is map-side.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import taxonomy as tx
from ..operators import attributes as at
from ..operators import components as cc
from ..operators import edges as ed
from ..operators import linking as lk
from ..operators import mentions as mn
from ..sources.tables import SnapshotTable


@dataclass
class KGPipeline:
    """Warehouse + table handles for one KG build."""

    warehouse: str
    # the byte budget of the one driver-fit decision (_pack) shared by
    # linking and canonicalization; tests set it to 0 to force the
    # at-scale plans end-to-end (test_at_scale_branches_full_build)
    broadcast_budget_mb: int = lk.BROADCAST_BUDGET_MB
    tables: dict = field(default_factory=dict, init=False)

    def __post_init__(self):
        import threading

        # table() is called from concurrent stage threads in build()
        self._lock = threading.Lock()
        self._deferred: list = []
        # incremental-resume state, refreshed per build: the linked
        # rows / docs a resumed build ADDED (None ⇒ fresh build or
        # nothing new) and whether the canonical mapping changed —
        # edges/triples switch to O(new) delta maintenance only when
        # growth happened under an unchanged mapping
        self._inc_new_linked = None
        self._inc_new_docs = None
        self._canon_changed = True
        # _pack's memo: (catalog, its pack or None)
        self._pack_lock = threading.Lock()
        self._packed = None

    def _pack(self, catalog: DataFrame) -> dict | None:
        """``lk.pack_catalog(catalog)`` once per build (or stream),
        shared by the concurrent linking and canonical stages, which ask
        only to link new docs or to rebuild the mapping."""
        with self._pack_lock:
            if self._packed is None or self._packed[0] is not catalog:
                self._packed = (catalog, lk.pack_catalog(
                    catalog, self.broadcast_budget_mb))
            return self._packed[1]

    def table(self, name: str) -> SnapshotTable:
        with self._lock:
            if name not in self.tables:
                self.tables[name] = SnapshotTable(
                    os.path.join(self.warehouse, name))
            return self.tables[name]

    @contextmanager
    def _all_or_nothing(self):
        """One all-or-nothing warehouse write (one writer at a time).
        ``_PENDING.json`` records each build table's CURRENT on entry;
        removing it on normal exit commits. A write that dies leaves
        it, and the next scope undoes it first: ``publish`` each
        recorded snapshot (an expired one raises), ``drop`` a table
        that had none."""
        pending = os.path.join(self.warehouse, "_PENDING.json")
        if os.path.exists(pending):
            with open(pending) as f:
                for name, sid in json.load(f).items():
                    if sid is None:
                        self.table(name).drop()
                    else:
                        self.table(name).publish(sid)
        os.makedirs(self.warehouse, exist_ok=True)
        with open(pending + ".tmp", "w") as f:
            json.dump({n: self.table(n).current_snapshot() for n in (
                "linked", "processed_docs", "canonical", "edges",
                "triples", "nodes")}, f)
        os.replace(pending + ".tmp", pending)
        yield
        os.remove(pending)

    # ---- stages -------------------------------------------------------
    def stage_linked(self, docs: DataFrame, catalog: DataFrame,
                     resume: bool = True, ex=None) -> DataFrame:
        """Mention detection + entity linking; resumable per doc_id.

        Incremental semantics replace the reference's "rerun the batch
        script against Neo4j MERGE": a resumed build appends the rows
        of docs not yet processed; a fresh one overwrites both tables.
        Both commits (on ``ex`` when given) read one checkpoint, which
        is returned — after the rows read before them when resuming.
        """
        spark = docs.sparkSession
        t = self.table("linked")
        seen = self.table("processed_docs")
        todo = docs
        self._inc_new_linked = self._inc_new_docs = None
        resuming = resume and seen.exists()
        if resuming:
            old = t.read(spark)
            # anti-join against the *processed* doc set — docs whose
            # mentions all failed the gates still count as processed
            todo = docs.join(seen.read(spark), "doc_id", "left_anti")
            # a job only when an earlier snapshot may cover everything
            if todo.isEmpty():
                return old
        linked = lk.link_mentions(todo, catalog, self._pack(catalog))
        # a fresh build REPLACES whatever the warehouse holds; only a
        # resumed build adds to it
        mode = "append" if resuming else "overwrite"
        # the kernel runs once: commits and downstream stages read the
        # blocks (an executor loss fails the build; the next write's
        # _all_or_nothing undoes what it committed)
        flat = linked.select(
            "doc_id", "span_idx", "product_id", "category", "score",
            *[F.col(f"attrs.{a}").alias(a)
              for a in (*tx.SCALAR_ATTRS, *tx.MULTI_ATTRS)]) \
            .localCheckpoint(eager=True)

        def commit():
            t.write(flat, mode=mode, stage="link")
            seen.write(todo.select("doc_id"), mode=mode, stage="link")
        if ex is None:
            commit()
        else:
            self._deferred.append(ex.submit(commit))
        if not resuming:
            return flat
        self._inc_new_linked, self._inc_new_docs = flat, todo
        return old.unionByName(flat)

    def stage_canonical(self, catalog: DataFrame) -> DataFrame:
        spark = catalog.sparkSession
        t = self.table("canonical")

        def rebuild():
            t.write(cc.canonical_mapping(catalog, self._pack(catalog)),
                    mode="overwrite", stage="canonicalize")

        self._canon_changed = True
        if not t.exists():
            rebuild()
            return t.read(spark)
        # resumed build: the committed mapping is stale if the catalog
        # changed. ONE full-outer probe job classifies the change:
        # additions fold in incrementally (probe-restricted pair join
        # — the 10^12-catalog path never re-pairs existing items);
        # removals force a rebuild (old components' star edges can't
        # distinguish pairwise from via-deleted connectivity).
        old = t.read(spark)
        d = catalog.select("product_id").withColumn("_c", F.lit(1)).join(
            old.select("product_id").withColumn("_o", F.lit(1)),
            "product_id", "full_outer").agg(
            F.count(F.when(F.col("_o").isNull(), 1)).alias("added"),
            F.count(F.when(F.col("_c").isNull(), 1)).alias("removed"),
        ).first()
        if d["removed"] > 0:
            rebuild()
        elif d["added"] > 0:
            t.write(cc.update_canonical_mapping(catalog, old),
                    mode="overwrite", stage="canonicalize")
        else:
            self._canon_changed = False
        return t.read(spark)

    def _incremental_ok(self, *table_names: str) -> bool:
        """True iff this resumed build may maintain the named derived
        tables by delta: docs grew, the canonical mapping did not
        change (a changed mapping rewrites OLD rows' endpoints), and
        the tables to merge into actually exist."""
        return (self._inc_new_linked is not None
                and not self._canon_changed
                and all(self.table(n).exists() for n in table_names))

    def _edges_plan(self, linked: DataFrame, canon: DataFrame) -> DataFrame:
        """The edges aggregation plan (no commit): full re-aggregation
        of ``linked``, or — when the resumed build only GREW under an
        unchanged mapping — the same chain over just the new docs'
        linked rows, MERGED into the committed edges
        (edges.merge_edge_delta): O(new), not O(all linked ever).

        Project down to the four pair-generation columns BEFORE the
        self-join: the join shuffles both sides by doc_id, and the ten
        attribute fields riding that exchange saturated shared tmpfs
        bandwidth exactly when the concurrent triples write needs it.
        Per-doc groups are tiny (≤ a few mentions), so the doc_id hash
        shuffle is skew-free without any explicit repartition."""
        delta = self._incremental_ok("edges")
        rows = self._inc_new_linked if delta else linked
        narrow = rows.select("doc_id", "span_idx", "product_id", "category")
        agg = ed.aggregate_edges(ed.cooccurrence_pairs(
            cc.canonicalize(narrow, canon, ["product_id"])))
        if delta:
            return ed.merge_edge_delta(
                self.table("edges").read(linked.sparkSession), agg)
        return agg

    def stage_edges(self, linked: DataFrame, canon: DataFrame,
                    ex) -> DataFrame:
        """Aggregate the edges ONCE (localCheckpoint runs the agg job
        now, concurrently with the triples-base write) and commit them
        on ``ex``: the edges-table commit and the complements append
        both read the checkpointed blocks, so they overlap instead of
        running as back-to-back commits (the round-2 serial tail)."""
        edges = self._edges_plan(linked, canon).localCheckpoint(eager=True)
        self._deferred.append(ex.submit(
            self.table("edges").write, edges, "overwrite", "edges"))
        return edges

    def stage_triples_base(self, docs: DataFrame, linked: DataFrame,
                           canon: DataFrame) -> None:
        """Attr + text triples — the bulk (≈12× the linked row count).
        Depends only on (linked, canon), NOT on edges, so build() runs
        this write concurrently with the edges stage.

        Incremental resume (growth under an unchanged mapping): attr +
        text triples are per-doc, so only the NEW docs' triples are
        computed and APPENDED; the stale complements rows are deleted
        first (copy-on-write, touches only their snapshot's files) and
        re-appended from the refreshed edges by stage_triples_comp —
        O(new docs + edge table), never O(corpus)."""
        incremental = self._incremental_ok("triples")
        if incremental:
            spark = docs.sparkSession
            docs, linked = self._inc_new_docs, self._inc_new_linked
            self.table("triples").delete_where(
                spark, F.col("pred") == "complements")
        attrs_struct = F.struct(*[F.col(a).alias(a)
                                  for a in (*tx.SCALAR_ATTRS, *tx.MULTI_ATTRS)])
        linked_canon = cc.canonicalize(linked, canon, ["product_id"]) \
            .withColumn("attrs", attrs_struct)
        t_attr = at.attr_triples(linked_canon)
        t_text = at.lexicon_triples(
            mn.text_mentions(docs), subj_col="doc_id") \
            .withColumn("doc_id", F.col("subj")) \
            .withColumn("span_idx", F.lit(-1)) \
            .withColumn("score", F.lit(1.0))
        allt = t_attr.unionByName(t_text.select(t_attr.columns))
        self.table("triples").write(
            allt, mode="append" if incremental else "overwrite",
            stage="triples")

    def stage_triples_comp(self, edges: DataFrame) -> DataFrame:
        """Append the (tiny) complements triples once edges exist."""
        spark = edges.sparkSession
        t = self.table("triples")
        t_comp = ed.complements_triples(edges).select(
            "subj", "pred", "obj",
            F.lit(None).cast("string").alias("doc_id"),
            F.lit(-1).alias("span_idx"), "score")
        t.write(t_comp, mode="append", stage="triples")
        return t.read(spark)

    def stage_nodes(self, catalog: DataFrame, canon: DataFrame) -> DataFrame:
        """Canonical nodes table — last-write-wins per canonical id
        (reference MERGE SET p += attrs, graph_database.py:89-92);
        deterministic winner = min product_id (== the canonical id)."""
        spark = catalog.sparkSession
        t = self.table("nodes")
        mapped = cc.canonicalize(catalog, canon, ["product_id"])
        w = Window.partitionBy("product_id").orderBy(F.asc("image_path"))
        nodes = mapped.withColumn("__rn", F.row_number().over(w)) \
            .filter(F.col("__rn") == 1).drop("__rn")
        t.write(nodes.drop("embedding", "style_embedding"),
                mode="overwrite", stage="nodes")
        return t.read(spark)

    def delete_product(self, spark: SparkSession, product_id: str) -> None:
        """DETACH DELETE (reference src/database/graph_database.py:
        400-446): drop the product node AND every incident edge, one
        all-or-nothing write of two overwrite snapshots — prior ones remain
        time-travelable (`table.read(spark, snapshot_id=...)`)."""
        with self._all_or_nothing():
            self.table("nodes").delete_where(
                spark, F.col("product_id") == product_id)
            self.table("edges").delete_where(
                spark, (F.col("src") == product_id)
                | (F.col("dst") == product_id))

    # ---- full build ---------------------------------------------------
    def build(self, docs: DataFrame, catalog: DataFrame,
              resume: bool = True) -> dict[str, DataFrame]:
        """Run all stages, overlapping independent ones from driver
        threads — Spark schedules concurrent jobs and (with FAIR mode,
        session.py) interleaves their tasks, so small stages fill the
        big stages' scheduling gaps and tail idle slots instead of
        running serially after them. Round-1 scaling decomposition
        attributed ~half the efficiency loss to a serial stage chain
        (kernel 0.92 → full build 0.52). Dependency DAG honored:

            canonical ──┐                  ┌─► nodes
            linked ─────┴─► edges ─► triples

        One ``_all_or_nothing`` write around the whole pool, so no
        deferred commit outlives it."""
        from concurrent.futures import ThreadPoolExecutor

        with self._all_or_nothing(), ThreadPoolExecutor(max_workers=5) as ex:
            try:
                f_canon = ex.submit(self.stage_canonical, catalog)
                linked = self.stage_linked(docs, catalog, resume=resume,
                                           ex=ex)
                canon = f_canon.result()
                f_nodes = ex.submit(self.stage_nodes, catalog, canon)
                # the attr+text triples write (the bulk of all output
                # rows) overlaps the edges aggregation — it needs only
                # linked+canon
                f_tbase = ex.submit(self.stage_triples_base, docs, linked,
                                    canon)
                edges_cp = self.stage_edges(linked, canon, ex)
                f_tbase.result()
                triples = self.stage_triples_comp(edges_cp)
                nodes = f_nodes.result()
                for f in self._deferred:
                    f.result()
            finally:
                # a failed commit must not fail the next build() too,
                # and the pack does not outlive the build
                self._deferred.clear()
                self._packed = None
        return {"linked": linked, "canonical": canon,
                "edges": self.table("edges").read(docs.sparkSession),
                "triples": triples, "nodes": nodes}
