"""The benchmark's workloads.

Each workload is one closed-loop client: the runner calls ``prepare``
(input generation from the seed), ``warm`` (one-time set-up), then
``run_pass`` a fixed number of times back to back, and ``check_pass``
after each pass outside the timed region.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow.parquet as pq

from checks import (CheckFailed, expect_equal, live_bytes, read_table,
                    table_hashes, triple_pr)

HERE = os.path.dirname(os.path.abspath(__file__))

# Frozen registry query list for query_suite: the KG read side (the
# kg_* queries reach operators.bgp and the 1-/2-hop expansions) plus the
# ANN + BM25 + RRF hybrid. dedup_minhash_lsh and graph_pagerank are left
# out: their eager driver jobs took 4.5 s of a 9.5 s pass, which made
# a run too long for the benchmark's time budget. Kept here, not derived
# from bench.HEADLINE, so a registry refactor cannot change the workload.
QUERIES = (
    "kg_complete_the_look", "kg_2hop_recs", "kg_bgp_query", "kg_bgp_topk",
    "kg_property_path", "hybrid_search_rrf",
)
QUERY_TABLES = ("documents", "embeddings", "lineitem")
FROZEN_SF = os.path.join(HERE, "data", "sf0.01")

# (docs, products) per size; "tiny" is the smoke test's size
FRESH_SIZES = {"bench": (3000, 600), "tiny": (200, 80)}
WARM_BUILDS = 2


def image_spans(docs_path: str) -> int:
    """Number of image spans in the docs (the mentions linking attempts)."""
    spans = pq.read_table(docs_path, columns=["spans"]).to_pandas()["spans"]
    return int(spans.map(
        lambda ss: sum(s["kind"] == "image_ref" for s in ss)).sum())


class Workload:
    """Defaults; the counters read 0 where a workload has no such layer."""

    # pass count of a run = round(--seconds / nominal_s), so every run of
    # the same --seconds samples the same passes: 4 builds at --seconds 12
    nominal_s = 3.0
    wh = None

    def mentions_in(self) -> int:
        return 0

    def linked_rows(self) -> int:
        if self.wh is None:
            return 0
        from fashion_knowledge_graph_spark.sources.tables import SnapshotTable

        return SnapshotTable(os.path.join(self.wh, "linked")).count_rows()

    def graph_stats(self) -> dict:
        """edges.* and components.* counts of the committed graph."""
        if self.wh is None:
            return {}
        e = read_table(self.wh, "edges", ["weight", "images"])
        c = read_table(self.wh, "canonical", ["product_id", "canonical_id"])
        return {"edges.rows": len(e),
                "edges.pairs": int(e["weight"].sum()),
                "edges.max_images": int(e["images"].map(len).max())
                if len(e) else 0,
                "components.dup_pairs":
                    int((c["product_id"] != c["canonical_id"]).sum())}

    def query_times(self) -> dict:
        return {}

    def output_bytes(self) -> int:
        return live_bytes(self.wh)


class BuildFresh(Workload):
    """One fresh KGPipeline.build(resume=False) per pass."""

    name = "build_fresh"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_docs, self.n_products = FRESH_SIZES[ctx.size]

    def prepare(self, out_dir: str):
        from fashion_knowledge_graph_spark import datagen

        datagen.write_fixtures(out_dir, n_docs=self.n_docs,
                               n_products=self.n_products, seed=self.ctx.seed)
        self.fix = out_dir

    def warm(self):
        import pandas as pd

        spark = self.ctx.spark
        self.docs = spark.read.parquet(os.path.join(self.fix, "docs.parquet"))
        self.catalog = spark.read.parquet(
            os.path.join(self.fix, "catalog.parquet"))
        self.mentions = image_spans(os.path.join(self.fix, "docs.parquet"))
        # build times keep falling over the first few builds of a session
        # (JIT, Python worker start); the last warm-up build is the
        # checked reference
        for k in range(WARM_BUILDS):
            wh = self._build(f"warm{k}")
        p, r = triple_pr(
            wh, pd.read_parquet(os.path.join(self.fix, "docs.parquet")),
            pd.read_parquet(os.path.join(self.fix, "catalog.parquet")))
        if p < 0.95 or r < 0.95:
            raise CheckFailed(f"triples P/R {p:.3f}/{r:.3f} < 0.95")
        self.want = table_hashes(wh)

    def _build(self, tag) -> str:
        from fashion_knowledge_graph_spark.plans.pipeline import KGPipeline

        if self.wh is not None:
            shutil.rmtree(self.wh, ignore_errors=True)
        self.wh = os.path.join(self.ctx.work, f"wh_{tag}")
        KGPipeline(warehouse=self.wh).build(self.docs, self.catalog,
                                            resume=False)
        return self.wh

    def run_pass(self, i: int) -> int:
        self._build(i)
        return self.n_docs

    def check_pass(self, i: int):
        expect_equal(table_hashes(self.wh), self.want,
                     f"fresh build {i} vs warm-up build")

    def mentions_in(self) -> int:
        return self.mentions


class QuerySuite(Workload):
    """One pass over the frozen registry query list, in a seed-permuted
    order; each query's plan runs to a pandas result."""

    name = "query_suite"
    # three passes at --seconds 12
    nominal_s = 4.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.order = list(QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.times: dict[str, list] = {q: [] for q in QUERIES}
        self.results: dict[str, object] = {}

    def prepare(self, out_dir: str):
        sf = os.path.join(out_dir, "sf0.01")
        os.makedirs(sf)
        for t in QUERY_TABLES:
            shutil.copyfile(os.path.join(FROZEN_SF, f"{t}.parquet"),
                            os.path.join(sf, f"{t}.parquet"))
        self.sf = sf

    def warm(self):
        """Builds the registry's KG world and checks every query once
        against its DuckDB oracle twin; the passes must then repeat the
        same value hashes."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_entry import value_hash

        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.sf
        self.fns, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        for t in QUERY_TABLES:
            p = os.path.join(self.sf, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.want = {}
        for q in self.order:
            got = value_hash(self.fns[q](self.ctx.spark, self.sf).toPandas())
            if got != value_hash(con.execute(oracles[q]).df()):
                raise CheckFailed(f"{q}: Spark result differs from oracle")
            self.want[q] = got
        con.close()
        self.value_hash = value_hash
        self.world = entry._kg_paths(self.sf)["wh"]

    def run_pass(self, i: int) -> int:
        import time

        for q in self.order:
            t0 = time.perf_counter()
            df = self.fns[q](self.ctx.spark, self.sf)
            t1 = time.perf_counter()
            self.results[q] = df.toPandas()
            self.times[q].append((t1 - t0, time.perf_counter() - t1))
        return len(self.order)

    def check_pass(self, i: int):
        bad = [q for q in self.order
               if self.value_hash(self.results[q]) != self.want[q]]
        self.results.clear()
        if bad:
            raise CheckFailed(f"pass {i}: {', '.join(bad)} changed values")

    def query_times(self) -> dict:
        return self.times

    def output_bytes(self) -> int:
        return live_bytes(self.world)


WORKLOADS = {w.name: w for w in (BuildFresh, QuerySuite)}

