"""Driver contract for the spark-graft builder (PySpark target).

``entry``       — flagship: full KG construction over interleaved docs
                  derived from the sf0.001 ``documents`` table.
``queries``     — one entry per implemented operator family
                  (SURVEY.md §2 + training-data ops); each callable is
                  (spark, sf_dir) → DataFrame.
``oracle_sql``  — DuckDB-equivalent ANSI SQL for EVERY query. The KG
                  family's UDF stages (hash embeddings, the mention
                  kernel) are pinned by tests/ against the pure-pandas
                  oracle; everything relational downstream is replayed
                  in SQL over the MATERIALIZED fixture world
                  (``_kg_oracle_sql``: linking aggregation, pair/edge
                  generation, triple unpivot + lexicon scan,
                  recursive-CTE connected components, 1-hop expand,
                  dual-path RRF) — so the driver's value-hash compare
                  covers the full relational surface. Portable hash
                  families (md5-derived shingle hashes, mod-prime
                  MinHash lanes, md5 SimHash token bits) were chosen
                  so even the LSH candidate sets replay exactly.

Float discipline: every float column crossing the Spark/DuckDB hash
compare is rounded to 6 (scores) or 2 (currency sums via exact
DECIMAL accumulation) decimals on BOTH sides, and sums that would
accumulate in float are computed in DECIMAL so the result is
order-independent.
"""

from __future__ import annotations

import functools
import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _norm_sql(col: str) -> str:
    """DuckDB text normalization matching functions/text.py::norm_text."""
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"


def _toks_sql(col: str) -> str:
    return (f"list_filter(string_split({_norm_sql(col)}, ' '), "
            "t -> t <> '')")


def _bpe_unrolled_sql(n_merges: int) -> str:
    """Unrolled-SQL replay of ``operators/tokenizer.py::learn_bpe``:
    per merge step k, a pair-count + deterministic top-1 pick, then a
    per-word recursive CTE that splices out the LEFTMOST (a,b)
    occurrence until none remains. Repeated-leftmost ≡ one
    left-to-right non-overlapping pass: a merge can't create a new
    occurrence of its own pair on either side (that would need
    a = a||b or b = a||b)."""
    parts = [f"""wf AS (
          SELECT w, count(*) AS freq
          FROM (SELECT unnest({_toks_sql('text')}) AS w
                FROM documents WHERE text IS NOT NULL)
          GROUP BY 1),
        vocab0 AS (
          SELECT w, [w[i] for i in range(1, len(w)+1)] AS syms, freq
          FROM wf)"""]
    for k in range(1, n_merges + 1):
        parts.append(f"""pc{k} AS (
          SELECT syms[CAST(i AS INT)] AS a,
                 syms[CAST(i AS INT)+1] AS b,
                 sum(freq)::BIGINT AS pair_count
          FROM vocab{k - 1},
               unnest(generate_series(1, len(syms)-1)) t(i)
          GROUP BY 1, 2),
        best{k} AS (SELECT {k} AS step, a, b, pair_count FROM pc{k}
                    ORDER BY pair_count DESC, a, b LIMIT 1),
        v{k} AS (
          SELECT w, syms, freq, 0 AS it FROM vocab{k - 1}
          UNION ALL
          SELECT w, syms[1:CAST(fm AS INT)-1] || [ma || mb]
                    || syms[CAST(fm AS INT)+2:], freq, it + 1
          FROM (SELECT w, syms, freq, it, ma, mb,
                       list_min([i for i in range(1, len(syms))
                                 if syms[CAST(i AS INT)] = ma
                                AND syms[CAST(i AS INT)+1] = mb])
                         AS fm
                FROM v{k}, (SELECT a AS ma, b AS mb FROM best{k}) m) s
          WHERE fm IS NOT NULL),
        vocab{k} AS (
          SELECT w, syms, freq FROM (
            SELECT *, row_number() OVER (
              PARTITION BY w ORDER BY it DESC) AS rn
            FROM v{k}) WHERE rn = 1)""")
    union = "\n        UNION ALL\n        ".join(
        f"SELECT step, a, b, pair_count FROM best{k}"
        for k in range(1, n_merges + 1))
    return ("WITH RECURSIVE " + ",\n        ".join(parts)
            + "\n        " + union)


def _bpe_segmented_sql(n_merges: int, k: int) -> str:
    """Same unrolled learner, but the final select returns the top-k
    SUBWORD tokens of the fully-merged vocabulary (frequency-weighted)
    — i.e. the learned tokenizer APPLIED to the corpus."""
    base = _bpe_unrolled_sql(n_merges)
    head = base.rsplit("SELECT step, a, b, pair_count FROM best1", 1)[0]
    return (head + f"""SELECT tok, sum(freq)::BIGINT AS n
        FROM (SELECT unnest(syms) AS tok, freq FROM vocab{n_merges}) z
        GROUP BY 1 ORDER BY n DESC, tok ASC LIMIT {k}""")


# corpus-mix rates / split weights for `domain_mix_split` — shared by
# the Spark query and its DuckDB oracle so both embed the SAME
# precomputed integer thresholds (see operators/sampling.py)
_MIX_RATES = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.1}
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _stopword_values() -> str:
    from fashion_knowledge_graph_spark.functions.text import LANG_STOPWORDS
    rows = [f"('{lang}', '{t}')"
            for lang, toks in sorted(LANG_STOPWORDS.items()) for t in toks]
    return ", ".join(rows)


def _en_stopword_list() -> str:
    from fashion_knowledge_graph_spark.functions.text import EN_STOPWORDS
    return "[" + ", ".join(f"'{t}'" for t in EN_STOPWORDS) + "]"


# KG fixture world: deterministic synthetic catalog + interleaved docs
# derived from the driver's documents table (no external data). The
# world is MATERIALIZED to a content-versioned directory so the DuckDB
# oracles can replay the relational stages (linking→edges→triples→CC→
# queries) in ANSI SQL against the same parquet inputs.
_KG_CACHE: dict[str, dict] = {}
_KG_N_PRODUCTS = 150
_KG_TABLES = ("linked", "canonical", "edges", "triples", "nodes")


@functools.cache
def _kg_world_key() -> str:
    """md5 over the code that builds a world: the package's ``.py``
    files and this file (``_kg_world``)."""
    from fashion_knowledge_graph_spark.session import package_sources

    with open(__file__, "rb") as f:
        return hashlib.md5(package_sources()[0].encode()
                           + f.read()).hexdigest()


def _kg_paths(sf_dir: str) -> dict[str, str]:
    # keyed on the code: a change to it builds a new world
    fix_dir = os.path.join(
        tempfile.gettempdir(),
        f"fkg_fixtures_p{_KG_N_PRODUCTS}_{_kg_world_key()[:12]}_"
        f"{os.path.basename(os.path.normpath(sf_dir))}")
    return {
        "fix": fix_dir,
        "catalog": os.path.join(fix_dir, "catalog.parquet"),
        "wh": os.path.join(fix_dir, "warehouse"),
        "docs": os.path.join(fix_dir, "docs_interleaved.parquet"),
        "qembs": os.path.join(fix_dir, "qembs.parquet"),
        "qdocs": os.path.join(fix_dir, "query_docs.parquet"),
        "qimg": os.path.join(fix_dir, "query_mentions.parquet"),
        "pregate": os.path.join(fix_dir, "mentions_pregate.parquet"),
        "ie_docs": os.path.join(fix_dir, "ie", "docs.parquet"),
        "done": os.path.join(fix_dir, "_WORLD_COMPLETE"),
    }


def _kg_query_text_rows(catalog_path: str) -> list[tuple[str, str]]:
    """Deterministic outfit-from-text queries: the style descriptions
    of the first three catalog products (by product_id) plus one
    no-hit control string. Reads the pandas-written catalog parquet
    directly (no Spark needed — oracle_sql() also calls this)."""
    import pyarrow.parquet as pq

    t = pq.read_table(catalog_path,
                      columns=["product_id", "style_description"]) \
        .to_pandas().sort_values("product_id").head(3)
    rows = [(f"q{i + 1}", d)
            for i, d in enumerate(t["style_description"])]
    rows.append(("q_none", "entirely unrelated query text"))
    return rows


def _kg_world(spark: SparkSession, sf_dir: str) -> dict:
    """Build (once per content version + sf_dir, across processes) the
    KG fixture world, run the full pipeline, materialize every oracle
    input; returns the tables."""
    if sf_dir in _KG_CACHE:
        return _KG_CACHE[sf_dir]
    from fashion_knowledge_graph_spark import datagen
    from fashion_knowledge_graph_spark.plans.pipeline import KGPipeline
    from fashion_knowledge_graph_spark.sources.interleave import interleaved_docs

    p = _kg_paths(sf_dir)
    if not os.path.exists(p["catalog"]):
        datagen.write_fixtures(p["fix"], n_docs=1,
                               n_products=_KG_N_PRODUCTS, seed=42)
    if not os.path.exists(p["ie_docs"]):
        # templated fashion-phrase docs for the open-IE query (the
        # driver documents table carries no fashion vocabulary)
        datagen.write_fixtures(os.path.join(p["fix"], "ie"),
                               n_docs=300,
                               n_products=_KG_N_PRODUCTS, seed=42)
    catalog = spark.read.parquet(p["catalog"])
    pipe = KGPipeline(warehouse=p["wh"])
    if not os.path.exists(p["done"]):
        import shutil

        shutil.rmtree(p["wh"], ignore_errors=True)
        interleaved_docs(_load(spark, sf_dir, "documents"),
                         n_entities=_KG_N_PRODUCTS) \
            .write.mode("overwrite").parquet(p["docs"])
        docs = spark.read.parquet(p["docs"])
        out = pipe.build(docs, catalog, resume=False)
        # pre-gate mention rows: the relational replay surface for the
        # kernel's P3/P5/P6/P8+W1 gates (kg_mention_gates oracle)
        from fashion_knowledge_graph_spark.operators.mentions import (
            image_mentions_pregate,
        )
        image_mentions_pregate(docs) \
            .write.mode("overwrite").parquet(p["pregate"])
        # outfit-query embeddings, materialized for the RRF oracle
        from fashion_knowledge_graph_spark.functions.embeddings import (
            clip_text_embed_udf,
            text_embed_udf,
        )
        qt = spark.createDataFrame(_kg_query_text_rows(p["catalog"]),
                                   "query_id string, text string")
        qt.select("query_id", "text",
                  clip_text_embed_udf("text").alias("q_img"),
                  text_embed_udf("text").alias("q_style")) \
            .write.mode("overwrite").parquet(p["qembs"])
        # outfit-from-image query fixture (recommender.py:204-325):
        # a deterministic slice of the interleaved docs plays the
        # user-uploaded outfit photos; their detected-mention
        # embeddings are materialized so the oracle can replay the
        # linking join (metadata filters → cosine → W5 gate) in SQL
        from fashion_knowledge_graph_spark.operators.mentions import (
            image_mentions,
        )
        qdocs = docs.filter(F.col("doc_id") % 7 == 3)
        qdocs.write.mode("overwrite").parquet(p["qdocs"])
        image_mentions(spark.read.parquet(p["qdocs"])) \
            .select("doc_id", "span_idx",
                    F.col("attrs.type").alias("m_type"),
                    F.col("attrs.color").alias("m_color"),
                    F.col("attrs.gender").alias("m_gender"),
                    "embedding") \
            .write.mode("overwrite").parquet(p["qimg"])
        open(p["done"], "w").close()
    else:
        docs = spark.read.parquet(p["docs"])
        out = {name: pipe.table(name).read(spark) for name in _KG_TABLES}
        pipe.table("processed_docs")      # register for lineage metrics
    out["docs"] = docs
    out["catalog"] = catalog
    out["__pipe"] = pipe
    _KG_CACHE[sf_dir] = out
    return out


def _kg_query_texts(spark, sf_dir: str):
    out = _kg_world(spark, sf_dir)      # ensure the world + paths exist
    del out
    return spark.createDataFrame(
        _kg_query_text_rows(_kg_paths(sf_dir)["catalog"]),
        "query_id string, text string")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG construction (mention detection → linking →
    triples + co-occurrence edges → canonicalization) over interleaved
    docs built from sf0.001 documents."""
    out = _kg_world(spark, "/root/testdata/sf0.001")
    return out["triples"].select("subj", "pred", "obj", "score")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from fashion_knowledge_graph_spark.functions import text as tx
    from fashion_knowledge_graph_spark.operators import dedup as dd
    from fashion_knowledge_graph_spark.operators import similarity as sim
    from fashion_knowledge_graph_spark.operators.rrf import add_rank, rrf_fuse
    from fashion_knowledge_graph_spark.operators.topk import grouped_top_k

    # -- relational operator families (SURVEY §2.B/C/D/E/F/G) ----------
    def p2_anti_join(spark, sf):
        # customers with no URGENT order — non-empty at every sf
        cust, orders = _load(spark, sf, "customer"), _load(spark, sf, "orders")
        urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
        return cust.join(urgent, cust.c_custkey == urgent.o_custkey,
                         "left_anti").select("c_custkey", "c_name")

    def j1_broadcast_enrich(spark, sf):
        cust, orders = _load(spark, sf, "customer"), _load(spark, sf, "orders")
        return (orders.join(F.broadcast(cust),
                            orders.o_custkey == cust.c_custkey)
                .groupBy("c_mktsegment")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
                     .cast("double").alias("total_price"))
                .select("c_mktsegment", "n_orders", "total_price"))

    def j6_cooccurrence_edges(spark, sf):
        li = _load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
        a = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").alias("src"))
        b = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").alias("dst"))
        pairs = a.join(b, "ok").filter(F.col("src") < F.col("dst"))
        return (pairs.groupBy("src", "dst")
                .agg(F.count(F.lit(1)).alias("weight"))
                .filter(F.col("weight") >= 2))

    def w2_topk_per_group(spark, sf):
        orders = _load(spark, sf, "orders")
        return grouped_top_k(
            orders, ["o_custkey"], [F.desc("o_totalprice")], 3,
            tie_breaks=[F.asc("o_orderkey")]
        ).select("o_custkey", "o_orderkey",
                 F.round(F.col("o_totalprice"), 2).alias("price"))

    def a5_stratified_sample(spark, sf):
        cust = _load(spark, sf, "customer")
        return grouped_top_k(
            cust, ["c_mktsegment"], [F.desc("c_acctbal")], 5,
            tie_breaks=[F.asc("c_custkey")]
        ).select("c_mktsegment", "c_custkey",
                 F.round(F.col("c_acctbal"), 2).alias("acctbal"))

    def a7_keep_first_per_key(spark, sf):
        orders = _load(spark, sf, "orders")
        return grouped_top_k(
            orders, ["o_custkey", "o_orderstatus"],
            [F.desc("o_totalprice")], 1, tie_breaks=[F.asc("o_orderkey")]
        ).select("o_custkey", "o_orderstatus", "o_orderkey")

    def a8_rrf_fusion(spark, sf):
        cust = _load(spark, sf, "customer")
        orders = _load(spark, sf, "orders")
        l1 = add_rank(cust.select("c_custkey", "c_acctbal"),
                      [], [F.desc("c_acctbal"), F.asc("c_custkey")]) \
            .filter(F.col("rank") <= 100).select("c_custkey", "rank")
        cnt = orders.groupBy(F.col("o_custkey").alias("c_custkey")) \
            .agg(F.count(F.lit(1)).alias("n"))
        l2 = add_rank(cnt, [], [F.desc("n"), F.asc("c_custkey")]) \
            .filter(F.col("rank") <= 100).select("c_custkey", "rank")
        fused = rrf_fuse([l1, l2], keys=[], id_col="c_custkey", k=60)
        return fused.select("c_custkey",
                            F.round("rrf_score", 6).alias("rrf_score"))

    def q1_pricing_summary(spark, sf):
        li = _load(spark, sf, "lineitem")
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        return (li.groupBy("l_returnflag", "l_linestatus")
                .agg(F.round(F.sum(dec("l_quantity")), 2).cast("double")
                     .alias("sum_qty"),
                     F.round(F.sum(dec("l_extendedprice")), 2).cast("double")
                     .alias("sum_base_price"),
                     F.round(F.sum(dec("l_extendedprice")
                                   * (F.lit(1).cast("decimal(18,2)")
                                      - dec("l_discount"))), 2).cast("double")
                     .alias("sum_disc_price"),
                     F.count(F.lit(1)).alias("count_order")))

    def f_scalar_functions(spark, sf):
        part = _load(spark, sf, "part")
        return part.select(
            "p_partkey",
            F.regexp_replace(F.lower("p_name"), "[^a-z0-9]+", "_")
            .alias("name_slug"),
            F.md5(F.col("p_name")).alias("name_md5"),
            F.regexp_extract(F.col("p_brand"), r"(\d+)$", 1)
            .alias("brand_num"),
            F.col("p_size").cast("string").alias("size_str"))

    def j_dim_chain_agg(spark, sf):
        # 3-way broadcast dim chain (TPC-H Q5 shape): orders→customer→
        # nation→region, revenue per region
        o = _load(spark, sf, "orders")
        c = _load(spark, sf, "customer")
        n = _load(spark, sf, "nation")
        r = _load(spark, sf, "region")
        return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
                .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
                .groupBy("r_name")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
                     .cast("double").alias("revenue")))

    def s11_index_stats(spark, sf):
        # vector-index stats (SURVEY S11): count/dim per label space
        emb = _load(spark, sf, "embeddings")
        return emb.groupBy("label").agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.max(F.size("embedding")).alias("dim"))

    def _mm_media(spark, sf):
        from fashion_knowledge_graph_spark.operators import multimodal as mm
        refs = _load(spark, sf, "documents").filter(F.col("doc_id") < 200) \
            .select(F.format_string("img://doc%08d", F.col("doc_id"))
                    .alias("media_ref"))
        return mm.synthesize_media(refs)

    def mm_feature_extract(spark, sf):
        # multimodal plumbing: synthesize media from doc ids, extract
        # deterministic pooled features via mapInPandas, exploded to
        # (media_id, idx, value) scalars — hashable for the driver's
        # canonicalizer (round 1 returned the raw array<float> column
        # and crashed pandas sort_values) and exactly replayable in
        # the DuckDB oracle (closed-form col/row means of the tiled
        # content bytes)
        from fashion_knowledge_graph_spark.operators import multimodal as mm
        feats = mm.extract_features(_mm_media(spark, sf))
        return feats.select(
            "media_id", F.posexplode("feature").alias("idx", "value")) \
            .select("media_id", "idx", F.round("value", 6).alias("value"))

    def mm_media_meta(spark, sf):
        # metadata projection + F5 base64 (reference encodes image
        # bytes for the LLM call, attribute_extraction_model.py:28-45);
        # md5(media_id) hex→binary IS content[0:16] by construction
        media = _mm_media(spark, sf)
        return media.select(
            "media_id",
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.col("meta.n_bytes").alias("n_bytes"),
            F.base64(F.to_binary(F.md5("media_id"), F.lit("hex")))
            .alias("thumb_b64"))

    def mm_resize_plan(spark, sf):
        # resize planning over the media metadata struct — pure
        # Catalyst, payload column pruned (only rows with
        # needs_resize enter the decode kernel at runtime)
        from fashion_knowledge_graph_spark.operators import multimodal as mm
        plan = mm.resize_meta(_mm_media(spark, sf), max_side=256)
        return plan.select("media_id", "mime", "target_width",
                           "target_height", "needs_resize")

    def mm_audio_chunk_plan(spark, sf):
        # overlapping ASR-style windowing over the timed media items
        # (2 s chunks, 0.5 s overlap): sequence+posexplode on
        # duration metadata, shuffle-free; untimed media yield no
        # chunks (operators/multimodal.py::audio_chunk_plan)
        from fashion_knowledge_graph_spark.operators import multimodal as mm
        return mm.audio_chunk_plan(_mm_media(spark, sf),
                                   chunk_ms=2000, overlap_ms=500)

    def mm_frame_plan(spark, sf):
        # video frame-sampling fan-out: sequence+explode on the
        # duration metadata (shuffle-free; one row per frame to
        # decode). The synthesized media table is ~25% video with
        # md5-derived durations, so the plan is non-vacuous.
        from fashion_knowledge_graph_spark.operators import multimodal as mm
        return mm.frame_sample_plan(_mm_media(spark, sf), every_ms=1000)

    def s9_delete_where(spark, sf):
        # S9/S10 row-level DELETE: load a snapshot table, DELETE WHERE,
        # read back — the copy-on-write rewrite is what the oracle's
        # NOT(cond) filter must reproduce exactly (time travel to the
        # pre-delete snapshot is pinned in tests/test_pipeline.py)
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        cust = _load(spark, sf, "customer").select(
            "c_custkey", "c_name",
            F.round("c_acctbal", 2).alias("acctbal"))
        t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_s9_"))
        t.write(cust, mode="overwrite", stage="load")
        t.delete_where(spark, F.col("acctbal") < 1000)
        return t.read(spark)

    def s_incremental_read(spark, sf):
        # Iceberg-contract CDC (incremental append scan): two appends
        # into a snapshot table; the scan between snapshot 1 and
        # CURRENT must return EXACTLY the second append's rows. The
        # planning is a manifest file-set diff — no data-compare job —
        # which at 100 TB is what makes resume/incremental pipelines
        # (north_rule: "resumable from an Iceberg snapshot checkpoint")
        # cost O(delta), not O(table).
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        ev = _load(spark, sf, "events")
        t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_cdc_"))
        s1 = t.write(ev.filter(F.col("user_id") % 2 == 0),
                     mode="append", stage="base")
        t.write(ev.filter(F.col("user_id") % 2 != 0),
                mode="append", stage="inc")
        inc = t.incremental_read(spark, s1)
        return inc.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double").alias("total_value"))

    def s_minmax_skipping(spark, sf):
        # manifest min/max data skipping (Iceberg planFiles): commit
        # lineitem range-clustered on l_shipdate with per-file bounds,
        # then read one year — file pruning happens on the DRIVER from
        # manifest stats before Spark ever lists the files, and the
        # residual predicate keeps the result exact. The assert pins
        # that pruning actually engaged (a no-op prune would silently
        # turn time-slice queries into full scans at 100 TB).
        import datetime

        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        li = _load(spark, sf, "lineitem")
        t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_skip_"))
        t.write(li.repartitionByRange(8, "l_shipdate"), mode="overwrite",
                stage="cluster", stats_cols=["l_shipdate"])
        lo = datetime.datetime(1997, 1, 1)
        hi = datetime.datetime(1997, 12, 31, 23, 59, 59)
        kept, total = t.prune_files("l_shipdate", lo, hi)
        assert len(kept) < total, "manifest pruning did not engage"
        out = t.read_where(spark, "l_shipdate", lo, hi)
        return out.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 2)
            .cast("double").alias("sum_qty"))

    def s_compact_optimize(spark, sf):
        # OPTIMIZE small files: 12 micro-batch-sized appends → one
        # compaction commit; the read-back after compaction must be
        # row-identical to the plain source (the oracle), and the
        # in-query asserts prove files actually shrank and time travel
        # still sees the pre-compact layout
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        ev = _load(spark, sf, "events").select(
            "event_id", "user_id", "event_type",
            F.round(F.col("value"), 2).alias("value"))
        t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_compact_"))
        for i in range(12):
            t.write(ev.filter(F.col("event_id") % 12 == i).repartition(4),
                    mode="append" if i else "overwrite", stage="ingest")
        pre_sid = t.current_snapshot()
        pre_files = len(t._manifest(pre_sid)["files"])
        t.compact(spark)
        post_files = len(t._manifest(t.current_snapshot())["files"])
        assert post_files < pre_files // 4, (pre_files, post_files)
        assert t.read(spark, pre_sid).count() == t.read(spark).count()
        return t.read(spark)

    def mv_incremental_refresh(spark, sf):
        # incrementally-maintained materialized view: 3 CDC appends,
        # first refresh = full build, later refreshes fold ONLY the
        # appended files via the manifest diff (sources/matview.py);
        # exact decimal sums make the mergeable state hash-stable.
        # The final view must equal a direct GROUP BY over everything
        # (the oracle).
        from fashion_knowledge_graph_spark.sources.matview import (
            IncrementalMV,
        )
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        ev = _load(spark, sf, "events").select(
            (F.col("user_id") % 100).alias("cohort"), "event_type",
            F.col("value").cast("decimal(18,6)").alias("value"),
            "event_id")
        root = tempfile.mkdtemp(prefix="fkg_mv_")
        src = SnapshotTable(os.path.join(root, "src"))
        mv = IncrementalMV(src, os.path.join(root, "mv"),
                           keys=["cohort", "event_type"],
                           sum_cols=["value"])
        for i in range(3):
            src.write(ev.filter(F.col("event_id") % 3 == i)
                      .drop("event_id"),
                      mode="append" if i else "overwrite", stage="cdc")
            mv.refresh(spark)
        assert mv.refresh(spark) == src.current_snapshot()  # no-op
        out = mv.read(spark)
        return out.select(
            "cohort", "event_type", "n_rows",
            F.round("sum_value", 4).cast("double").alias("sum_value"),
            F.round(F.col("sum_value").cast("double") / F.col("n_rows"),
                    6).alias("avg_value"))

    def mv_kmv_distinct(spark, sf):
        # approximate COUNT DISTINCT maintained INCREMENTALLY: the MV
        # keeps per-group KMV sketches (k smallest 60-bit value
        # hashes, ≤ k int64s of state per group) and folds each CDC
        # append with the associative k-smallest merge — the
        # distributed-sketch form kmv_distinct's docstring promises;
        # the merged estimate is bit-identical to a one-shot sketch
        # of everything (pinned in tests/test_matview.py), which is
        # exactly what the oracle replays
        from fashion_knowledge_graph_spark.sources.matview import (
            IncrementalMV,
        )
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        ev = _load(spark, sf, "events").select(
            "event_type", "user_id", "event_id")
        root = tempfile.mkdtemp(prefix="fkg_mvkmv_")
        src = SnapshotTable(os.path.join(root, "src"))
        mv = IncrementalMV(src, os.path.join(root, "mv"),
                           keys=["event_type"], sum_cols=[],
                           distinct_cols=["user_id"], kmv_k=32)
        for i in range(3):
            src.write(ev.filter(F.col("event_id") % 3 == i)
                      .drop("event_id"),
                      mode="append" if i else "overwrite", stage="cdc")
            mv.refresh(spark)
        return mv.read(spark).select(
            "event_type", "n_rows",
            F.round("distinct_est_user_id", 4).alias("distinct_est"))

    def s_snapshot_diff(spark, sf):
        # full CDC between snapshots including a rewrite: delete every
        # 4th customer (copy-on-write), append clone rows, then diff
        # vs the original snapshot — deletes AND inserts both surface
        # (incremental_read alone would refuse across the rewrite)
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        cust = _load(spark, sf, "customer").select(
            "c_custkey", "c_name",
            F.round("c_acctbal", 2).alias("acctbal"))
        t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_diff_"))
        t.write(cust, mode="overwrite", stage="load")
        t.delete_where(spark, F.col("c_custkey") % 4 == 0)
        clones = cust.filter(F.col("c_custkey") % 9 == 0).select(
            (F.col("c_custkey") + 2_000_000).alias("c_custkey"),
            F.concat(F.lit("c#"), F.col("c_name")).alias("c_name"),
            "acctbal")
        t.write(clones, mode="append", stage="late")
        return t.diff(spark, from_snapshot=1)

    def s_wap_publish(spark, sf):
        # write-audit-publish: the candidate commit stays invisible
        # while the audit runs against its snapshot; publish is one
        # atomic pointer move. Audit gate: no negative balances
        # (violators clamped in the fixed batch). count_rows =
        # metadata-only COUNT(*) from footers, asserted against the
        # published state.
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        cust = _load(spark, sf, "customer").select(
            "c_custkey", "c_name",
            F.round("c_acctbal", 2).alias("acctbal"))
        t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_wap_"))
        t.write(cust, mode="overwrite", stage="load")
        candidate = cust.withColumn(
            "acctbal", F.round(F.greatest(F.col("acctbal"), F.lit(0.0)),
                               2))
        sid = t.write_staged(candidate, stage="candidate")
        assert t.current_snapshot() == 1            # still unpublished
        assert t.read(spark, sid).filter(
            F.col("acctbal") < 0).count() == 0      # audit passes
        t.publish(sid)
        assert t.count_rows() == cust.count()       # metadata COUNT(*)
        return t.read(spark)

    def s_expire_vacuum(spark, sf):
        # retention: copy-on-write DELETE rewrite, then expire the
        # pre-delete snapshot — its files are unreferenced and must be
        # physically reclaimed (bytes > 0 asserted in-query); the
        # surviving content is the oracle
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        cust = _load(spark, sf, "customer").select(
            "c_custkey", "c_name",
            F.round("c_acctbal", 2).alias("acctbal"))
        t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_expire_"))
        t.write(cust, mode="overwrite", stage="load")
        t.delete_where(spark, F.col("c_custkey") % 3 == 0)
        res = t.expire_snapshots(keep_last=1)
        assert res["expired"] == [1] and res["bytes"] > 0, res
        assert len(t.snapshots()) == 1
        return t.read(spark)

    def s_gdpr_erasure(spark, sf):
        # right-to-be-forgotten, end-to-end: erase ONE user from the
        # fact table (copy-on-write DELETE) AND from its derived
        # rollup (recomputed + overwrite-committed), then expire the
        # pre-delete snapshots so the bytes are PHYSICALLY reclaimed —
        # erasure isn't done while time travel can still resurrect the
        # user (asserted in-query: visible before, gone after, files
        # reclaimed). The oracle is the surviving rollup.
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        ev = _load(spark, sf, "events").select(
            "event_id", "user_id", "event_type",
            F.round("value", 6).alias("value"))
        facts = SnapshotTable(tempfile.mkdtemp(prefix="fkg_gdpr_f_"))
        facts.write(ev, mode="overwrite", stage="load")
        rollup = SnapshotTable(tempfile.mkdtemp(prefix="fkg_gdpr_r_"))

        def _rollup(df):
            return (df.groupBy("user_id", "event_type")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.round(F.sum(F.col("value")
                                       .cast("decimal(18,6)")), 4)
                         .cast("double").alias("total_value")))
        rollup.write(_rollup(facts.read(spark)), mode="overwrite",
                     stage="load")
        subject = 7
        pre = facts.read(spark).filter(
            F.col("user_id") == subject).count()
        assert pre > 0, "erasure subject must exist before the delete"
        facts.delete_where(spark, F.col("user_id") == subject)
        rollup.write(_rollup(facts.read(spark)), mode="overwrite",
                     stage="erase")
        for t in (facts, rollup):
            res = t.expire_snapshots(keep_last=1)
            assert res["bytes"] > 0, res       # physically reclaimed
            assert len(t.snapshots()) == 1     # no resurrecting travel
        assert facts.read(spark).filter(
            F.col("user_id") == subject).count() == 0
        return rollup.read(spark)

    def s_merge_upsert(spark, sf):
        # generic MERGE INTO (upsert): matched keys take the source
        # row, unmatched source rows insert, committed as one
        # copy-on-write snapshot (reference upsert semantics
        # src/database/graph_database.py:137-183 generalized beyond
        # nodes/edges). Updates = every 7th customer (+1000 balance,
        # uppercased name); inserts = every 11th key shifted past the
        # key space.
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        cust = _load(spark, sf, "customer").select(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_merge_"))
        t.write(cust, mode="overwrite", stage="load")
        updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
            "c_custkey", F.upper("c_name").alias("c_name"),
            F.round(F.col("acctbal") + 1000, 2).alias("acctbal"))
        inserts = cust.filter(F.col("c_custkey") % 11 == 0).select(
            (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
            F.concat(F.lit("new#"), F.col("c_name")).alias("c_name"),
            F.lit(0.0).alias("acctbal"))
        t.merge(spark, updates.unionByName(inserts), ["c_custkey"])
        return t.read(spark)

    def graph_triangles(spark, sf):
        # per-node triangle counts over the part co-occurrence graph,
        # via degree-ordered orientation (bounds wedge blowup on skewed
        # hubs — see operators/graph.py:triangle_counts)
        from fashion_knowledge_graph_spark.operators.graph import (
            triangle_counts,
        )
        li = _load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
        a = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").alias("src"))
        b = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").alias("dst"))
        pairs = (a.join(b, "ok").filter(F.col("src") < F.col("dst"))
                 .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
                 .filter(F.col("w") >= 2))
        return triangle_counts(pairs)

    def w_gap_islands(spark, sf):
        # gaps-and-islands: maximal runs of consecutive same-type
        # events per user (row_number difference trick — pure window
        # functions, one shuffle on user_id; both window specs share
        # the partition key so Catalyst evaluates them in one sort)
        from pyspark.sql import Window

        ev = _load(spark, sf, "events")
        w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
        w_typ = Window.partitionBy("user_id", "event_type") \
            .orderBy("ts", "event_id")
        isl = ev.select(
            "user_id", "event_type", "event_id",
            (F.row_number().over(w_all) - F.row_number().over(w_typ))
            .alias("island"))
        return isl.groupBy("user_id", "event_type", "island").agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("event_id").alias("first_event")) \
            .drop("island")

    def pack_sequences(spark, sf):
        # LLM-training sequence packing: greedy fixed-token-budget bin
        # assignment, deterministic per fixed doc_id shard (see
        # operators/packing.py — the sequential decision runs inside a
        # per-shard applyInPandas; the DuckDB oracle replays the greedy
        # walk as a recursive CTE)
        from fashion_knowledge_graph_spark.functions.text import (
            token_count,
        )
        from fashion_knowledge_graph_spark.operators.packing import (
            pack_greedy,
        )
        docs = _load(spark, sf, "documents").filter(
            F.col("text").isNotNull())
        toks = docs.select("doc_id", token_count("text").alias("n_tokens"))
        return pack_greedy(toks, id_col="doc_id", token_col="n_tokens",
                           capacity=512, shard_width=100)

    def m7_spec_attrs(spark, sf):
        # M7 spec-sheet attribute extraction (reference
        # product_attributes.py:27-88): synthesize a datasheet per part
        # and parse it back into open-vocabulary (subj, attr, value)
        from fashion_knowledge_graph_spark.operators.attributes import (
            spec_attrs,
        )
        part = _load(spark, sf, "part")
        spec = F.concat_ws(
            "\n",
            F.concat(F.lit("Brand: "), F.col("p_brand")),
            F.concat(F.lit("Type: "), F.col("p_type")),
            F.concat(F.lit("Size: "), F.col("p_size").cast("string")),
            F.concat(F.lit("Product Name: "), F.col("p_name")),
            F.lit("malformed line without separator"))
        sheets = part.select("p_partkey", spec.alias("spec_text"))
        return spec_attrs(sheets, "p_partkey")

    def f4_json_extract(spark, sf):
        ev = _load(spark, sf, "events")
        return (ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"))
            .groupBy("k").agg(F.count(F.lit(1)).alias("n")))

    def u1_union_distinct(spark, sf):
        ev = _load(spark, sf, "events").select(
            F.col("event_type").alias("tag"))
        op = _load(spark, sf, "orders").select(
            F.col("o_orderpriority").alias("tag"))
        return ev.unionByName(op).distinct()

    def a2_collect_sorted(spark, sf):
        ev = _load(spark, sf, "events")
        return ev.groupBy("user_id").agg(
            F.array_join(F.sort_array(F.collect_set("event_type")), ",")
            .alias("event_types"),
            F.count(F.lit(1)).alias("n_events"))

    def events_tumbling_agg(spark, sf):
        ev = _load(spark, sf, "events")
        return (ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")),
                          "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
                 .cast("double").alias("total_value")))

    def stream_sessionize_closed(spark, sf):
        # custom stateful streaming operator (applyInPandasWithState):
        # per-user gap sessionization with O(1) state, append-mode
        # emission of CLOSED sessions. Over the fully drained static
        # source this equals batch sessionization minus each user's
        # final open session — the oracle replays exactly that.
        from fashion_knowledge_graph_spark.streaming.incremental import (
            stream_sessionize_once,
        )
        return stream_sessionize_once(
            spark, os.path.join(sf, "events.parquet"), gap="4 hours")

    def asof_attribution(spark, sf):
        # distributed ASOF JOIN (union-tag + one window pass — Spark
        # has no native asof; the oracle uses DuckDB's real ASOF
        # JOIN): each purchase event attributed to the same user's
        # most recent at-or-before view event
        from fashion_knowledge_graph_spark.operators.temporal import (
            asof_join,
        )
        ev = _load(spark, sf, "events")
        fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        purchases = ev.filter(F.col("event_type") == "purchase") \
            .select("event_id", "user_id", "ts")
        views = ev.filter(F.col("event_type") == "view") \
            .select("user_id", "ts", F.col("event_id").alias("view_id"))
        out = asof_join(purchases, views, by="user_id", ts="ts",
                        payload_cols=["view_id"])
        return out.select(
            "event_id", "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            "asof_view_id",
            F.date_format("asof_ts", fmt).alias("view_ts"))

    def graph_kcore(spark, sf):
        # fixed-round k-core peeling (k=3, 3 rounds) over the
        # symmetrized co-purchase graph — unrolled-iteration contract
        # like graph_pagerank, so the oracle replays each peel as CTEs
        from fashion_knowledge_graph_spark.operators.graph import (
            kcore_peel,
        )
        und = j6_cooccurrence_edges(spark, sf)
        e = und.select("src", "dst").unionByName(
            und.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst")))
        return kcore_peel(e, k=3, rounds=3)

    def q3_shipping_priority(spark, sf):
        # TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈
        # lineitem, revenue per order, top 10 (date predicates pushed
        # to both scans; deterministic orderkey tie-break)
        cust = _load(spark, sf, "customer") \
            .filter(F.col("c_mktsegment") == "BUILDING")
        orders = _load(spark, sf, "orders") \
            .filter(F.col("o_orderdate") < F.lit("1995-03-15"))
        li = _load(spark, sf, "lineitem") \
            .filter(F.col("l_shipdate") > F.lit("1995-03-15"))
        rev = (cust.join(orders, cust.c_custkey == orders.o_custkey)
               .join(li, orders.o_orderkey == li.l_orderkey)
               .groupBy("o_orderkey", "o_orderdate")
               .agg(F.round(F.sum((F.col("l_extendedprice")
                                   * (1 - F.col("l_discount")))
                                  .cast("decimal(18,6)")), 2)
                    .cast("double").alias("revenue")))
        return add_rank(rev, [], [F.desc("revenue"),
                                  F.asc("o_orderkey")]) \
            .filter(F.col("rank") <= 10) \
            .select("o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"), "revenue", "rank")

    def q4_order_priority(spark, sf):
        # TPC-H Q4 shape: per-priority order counts where EXISTS a
        # line shipped >30 days after the order date — a left-semi
        # join (never a row-multiplying inner join + distinct)
        orders = _load(spark, sf, "orders")
        li = _load(spark, sf, "lineitem") \
            .select("l_orderkey", "l_shipdate")
        late = orders.join(
            li, (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.date_add(orders.o_orderdate, 30)),
            "left_semi")
        return late.groupBy("o_orderpriority") \
            .agg(F.count(F.lit(1)).alias("order_count"))

    def q10_returned_items(spark, sf):
        # TPC-H Q10 shape: revenue lost to returns per customer,
        # top 20 (returnflag filter pushed to the lineitem scan)
        cust = _load(spark, sf, "customer")
        orders = _load(spark, sf, "orders")
        li = _load(spark, sf, "lineitem") \
            .filter(F.col("l_returnflag") == "R")
        rev = (cust.join(orders, cust.c_custkey == orders.o_custkey)
               .join(li, orders.o_orderkey == li.l_orderkey)
               .groupBy("c_custkey", "c_name")
               .agg(F.round(F.sum((F.col("l_extendedprice")
                                   * (1 - F.col("l_discount")))
                                  .cast("decimal(18,6)")), 2)
                    .cast("double").alias("revenue")))
        return add_rank(rev, [], [F.desc("revenue"),
                                  F.asc("c_custkey")]) \
            .filter(F.col("rank") <= 20)

    def q6_forecast_revenue(spark, sf):
        # TPC-H Q6 shape: pure filter-aggregate — the plan should be
        # scan (all three predicates pushed) → partial agg → one row
        li = _load(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24))
        return li.agg(
            F.round(F.sum((F.col("l_extendedprice")
                           * F.col("l_discount"))
                          .cast("decimal(18,6)")), 2)
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"))

    def q18_large_orders(spark, sf):
        # TPC-H Q18 shape: orders whose total quantity exceeds a
        # threshold (groupBy-HAVING as a semi-filter), enriched with
        # the customer — aggregate first, join the survivors after
        orders = _load(spark, sf, "orders")
        li = _load(spark, sf, "lineitem")
        cust = _load(spark, sf, "customer")
        big = (li.groupBy("l_orderkey")
               .agg(F.round(F.sum(F.col("l_quantity")
                                  .cast("decimal(18,2)")), 2)
                    .cast("double").alias("total_qty"))
               .filter(F.col("total_qty") > 150))
        return (big.join(orders,
                         big.l_orderkey == orders.o_orderkey)
                .join(cust, orders.o_custkey == cust.c_custkey)
                .select("c_custkey", "c_name", "o_orderkey",
                        F.round("o_totalprice", 2).alias("o_totalprice"),
                        "total_qty"))

    def q7_nation_volume(spark, sf):
        # TPC-H Q7 shape: shipping volume between supplier and
        # customer nations by year — two broadcast nation lookups on
        # one fact-chain join, exact decimal revenue
        li = _load(spark, sf, "lineitem")
        orders = _load(spark, sf, "orders")
        cust = _load(spark, sf, "customer")
        supp = _load(spark, sf, "supplier")
        nat = _load(spark, sf, "nation")
        n1 = F.broadcast(nat.select(
            F.col("n_nationkey").alias("sk"),
            F.col("n_name").alias("supp_nation")))
        n2 = F.broadcast(nat.select(
            F.col("n_nationkey").alias("ck"),
            F.col("n_name").alias("cust_nation")))
        j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .join(cust, orders.o_custkey == cust.c_custkey)
             .join(supp, li.l_suppkey == supp.s_suppkey)
             .join(n1, supp.s_nationkey == F.col("sk"))
             .join(n2, cust.c_nationkey == F.col("ck"))
             .filter(F.col("supp_nation") != F.col("cust_nation")))
        return (j.groupBy("supp_nation", "cust_nation",
                          F.year("l_shipdate").alias("yr"))
                .agg(F.round(F.sum((F.col("l_extendedprice")
                                    * (1 - F.col("l_discount")))
                                   .cast("decimal(18,6)")), 2)
                     .cast("double").alias("revenue")))

    def q14_promo_share(spark, sf):
        # TPC-H Q14 shape: conditional aggregation over a broadcast
        # dim join — share of revenue from 'PROMO%' part types
        li = _load(spark, sf, "lineitem")
        part = _load(spark, sf, "part")
        j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        rev = (F.col("l_extendedprice")
               * (1 - F.col("l_discount"))).cast("decimal(18,6)")
        return j.agg(
            F.round(100.0 * F.sum(F.when(
                F.col("p_type").startswith("PROMO"), rev)
                .otherwise(F.lit(0).cast("decimal(18,6)")))
                .cast("double")
                / F.sum(rev).cast("double"), 6).alias("promo_pct"))

    def part_brand_margin(spark, sf):
        # brand-level sales rollup: lineitem ⋈ part (fact⋈dim,
        # broadcast), exact decimal revenue/discount totals
        li = _load(spark, sf, "lineitem")
        part = _load(spark, sf, "part")
        return (li.join(F.broadcast(part),
                        li.l_partkey == part.p_partkey)
                .groupBy("p_brand")
                .agg(F.count(F.lit(1)).alias("n_items"),
                     F.round(F.sum(F.col("l_extendedprice")
                                   .cast("decimal(18,6)")), 2)
                     .cast("double").alias("gross"),
                     F.round(F.sum((F.col("l_extendedprice")
                                    * F.col("l_discount"))
                                   .cast("decimal(18,6)")), 2)
                     .cast("double").alias("discounted")))

    def supplier_balance_deciles(spark, sf):
        # decile profile of supplier account balances: exact ntile(10)
        # semantics with a deterministic key tie-break — computed by
        # the range-partitioned two-pass rank (topk.ntile_distributed)
        # instead of an unpartitioned window, so the supplier-sized
        # sort never funnels into one task
        from fashion_knowledge_graph_spark.operators.topk import (
            ntile_distributed,
        )
        supp = _load(spark, sf, "supplier")
        ranked = ntile_distributed(
            supp.select("s_suppkey",
                        F.round("s_acctbal", 2).alias("bal")),
            [F.asc("bal"), F.asc("s_suppkey")], 10, "decile")
        return (ranked.groupBy("decile")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.min("bal").alias("lo"),
                     F.max("bal").alias("hi")))

    def rfm_segments(spark, sf):
        # RFM customer segmentation: recency (days since last order),
        # frequency (orders), monetary (total spend) → quartile
        # buckets via ntile with a deterministic custkey tie-break →
        # segment sizes. Two shuffles: custkey agg, then the three
        # small ntile windows over customer-sized rows.
        orders = _load(spark, sf, "orders")
        anchor = orders.agg(F.max("o_orderdate").alias("mx"))
        per_cust = (orders.groupBy("o_custkey")
                    .agg(F.max("o_orderdate").alias("last_order"),
                         F.count(F.lit(1)).alias("frequency"),
                         F.round(F.sum(F.col("o_totalprice")
                                       .cast("decimal(18,6)")), 2)
                         .alias("monetary"))
                    .crossJoin(F.broadcast(anchor))
                    .withColumn("recency_days",
                                F.datediff("mx", "last_order")))
        # quartiles via the range-partitioned two-pass ntile (exact
        # SQL semantics) — three customer-sized sorts, none of them a
        # single-task unpartitioned window; quartile frames re-join
        # on the customer key
        from fashion_knowledge_graph_spark.operators.topk import (
            ntile_distributed,
        )
        dims = [("r_q", [F.asc("recency_days"), F.asc("o_custkey")]),
                ("f_q", [F.desc("frequency"), F.asc("o_custkey")]),
                ("m_q", [F.desc("monetary"), F.asc("o_custkey")])]
        seg = None
        for name, order in dims:
            q = ntile_distributed(per_cust, order, 4, name) \
                .select("o_custkey", name)
            seg = q if seg is None else seg.join(q, "o_custkey")
        return (seg.groupBy("r_q", "f_q", "m_q")
                .agg(F.count(F.lit(1)).alias("customers")))

    def q5_local_supplier_volume(spark, sf):
        # TPC-H Q5 shape: 6-table join (customer⋈orders⋈lineitem⋈
        # supplier⋈nation⋈region) with the same-nation predicate —
        # the canonical join-reordering/broadcast workout; Catalyst
        # broadcasts the dim chain and the fact tables shuffle once
        cust = _load(spark, sf, "customer")
        orders = _load(spark, sf, "orders")
        li = _load(spark, sf, "lineitem")
        supp = _load(spark, sf, "supplier")
        nat = _load(spark, sf, "nation")
        reg = _load(spark, sf, "region")
        return (cust.join(orders,
                          cust.c_custkey == orders.o_custkey)
                .join(li, orders.o_orderkey == li.l_orderkey)
                .join(supp, (li.l_suppkey == supp.s_suppkey)
                      & (cust.c_nationkey == supp.s_nationkey))
                .join(nat, supp.s_nationkey == nat.n_nationkey)
                .join(reg, nat.n_regionkey == reg.r_regionkey)
                .groupBy("n_name")
                .agg(F.round(F.sum(
                    (F.col("l_extendedprice")
                     * (1 - F.col("l_discount")))
                    .cast("decimal(18,6)")), 4)
                    .cast("double").alias("revenue"),
                    F.count(F.lit(1)).alias("n_items")))

    def q13_order_count_distribution(spark, sf):
        # TPC-H Q13 shape: distribution of orders-per-customer
        # INCLUDING zero-order customers — the left outer join is the
        # point (an inner join would silently drop the c_count=0 bin);
        # two aggregations, the second over customer-sized rows
        cust = _load(spark, sf, "customer").select("c_custkey")
        orders = _load(spark, sf, "orders") \
            .select("o_custkey", "o_orderkey")
        per_cust = (cust.join(orders,
                              cust.c_custkey == orders.o_custkey,
                              "left")
                    .groupBy("c_custkey")
                    .agg(F.count("o_orderkey").alias("c_count")))
        return per_cust.groupBy("c_count") \
            .agg(F.count(F.lit(1)).alias("custdist"))

    def q17_small_quantity_revenue(spark, sf):
        # TPC-H Q17 shape: revenue from below-avg-quantity line items
        # of one brand — the per-part AVG subquery is a broadcast-able
        # partkey aggregate joined back to the (brand-filtered) fact.
        # The 0.2·avg threshold is evaluated in EXACT integer/decimal
        # arithmetic (qty·5·cnt < sum_qty), never a float divide, so
        # the DuckDB replay is bit-identical at the boundary.
        li = _load(spark, sf, "lineitem")
        part = _load(spark, sf, "part") \
            .filter(F.col("p_brand") == "Brand#23").select("p_partkey")
        thr = li.groupBy("l_partkey").agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"))
        j = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
             .join(thr, "l_partkey")
             .filter(F.col("l_quantity").cast("decimal(18,2)")
                     * 5 * F.col("cnt") < F.col("sum_qty")))
        return j.agg(
            F.round((F.sum(F.col("l_extendedprice")
                           .cast("decimal(18,6)")) / 7).cast("double"),
                    2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"))

    def q19_disjunct_revenue(spark, sf):
        # TPC-H Q19 shape: disjunction of three conjunctive
        # brand/size/quantity clauses over a part⋈lineitem join — the
        # OR-of-ANDs predicate the optimizer must keep joinable (the
        # common l_partkey = p_partkey conjunct stays an equi-join key;
        # the disjunction filters after the broadcast join)
        li = _load(spark, sf, "lineitem")
        part = _load(spark, sf, "part")
        j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        q = F.col("l_quantity")
        clause = (
            ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 5)
             & q.between(1, 11))
            | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 10)
               & q.between(10, 20))
            | ((F.col("p_brand") == "Brand#34") & (F.col("p_size") <= 15)
               & q.between(20, 30)))
        return (j.filter(clause)
                .groupBy("p_brand")
                .agg(F.round(F.sum((F.col("l_extendedprice")
                                    * (1 - F.col("l_discount")))
                                   .cast("decimal(18,6)")), 2)
                     .cast("double").alias("revenue"),
                     F.count(F.lit(1)).alias("n_items")))

    def q22_idle_rich_customers(spark, sf):
        # TPC-H Q22 shape: customers with above-average positive
        # balance and NO urgent orders — a global scalar aggregate
        # broadcast as the filter bound, then an anti-join; both
        # engines compute the threshold as one IEEE divide of the
        # exact decimal sum by the count, so the > comparison is
        # bit-identical. (TPC-H proper anti-joins ALL orders; every
        # fixture customer has orders, so the urgent subset keeps the
        # shape non-vacuous.)
        cust = _load(spark, sf, "customer")
        orders = _load(spark, sf, "orders") \
            .filter(F.col("o_orderpriority") == "1-URGENT") \
            .select("o_custkey")
        avg_pos = cust.filter(F.col("c_acctbal") > 0).agg(
            (F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
             .cast("double") / F.count(F.lit(1))).alias("avg_bal"))
        rich = cust.crossJoin(F.broadcast(avg_pos)) \
            .filter(F.col("c_acctbal") > F.col("avg_bal"))
        idle = rich.join(orders, rich.c_custkey == orders.o_custkey,
                         "left_anti")
        return (idle.groupBy("c_mktsegment")
                .agg(F.count(F.lit(1)).alias("numcust"),
                     F.round(F.sum(F.col("c_acctbal")
                                   .cast("decimal(18,2)")), 2)
                     .cast("double").alias("totacctbal")))

    def q8_market_share(spark, sf):
        # TPC-H Q8 shape: one supplier nation's share of ECONOMY-part
        # order volume delivered into ASIA, per order year — the
        # nation table plays TWO roles (customer side and supplier
        # side), both broadcast; share = conditional decimal sum over
        # total decimal sum, divided once as doubles so the DuckDB
        # replay is bit-identical
        nation = _load(spark, sf, "nation")
        region = _load(spark, sf, "region") \
            .filter(F.col("r_name") == "ASIA")
        cust = _load(spark, sf, "customer")
        orders = _load(spark, sf, "orders")
        li = _load(spark, sf, "lineitem")
        supp = _load(spark, sf, "supplier")
        part = _load(spark, sf, "part") \
            .filter(F.col("p_type") == "ECONOMY").select("p_partkey")
        cn = nation.join(F.broadcast(region),
                         nation.n_regionkey == region.r_regionkey) \
            .select(F.col("n_nationkey").alias("cn_key"))
        sn = nation.select(F.col("n_nationkey").alias("sn_key"),
                           F.col("n_name").alias("supp_nation"))
        vol = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
               .join(orders, li.l_orderkey == orders.o_orderkey)
               .join(cust, orders.o_custkey == cust.c_custkey)
               .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
               .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
               .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
               .select(F.year("o_orderdate").alias("o_year"),
                       (F.col("l_extendedprice")
                        * (1 - F.col("l_discount")))
                       .cast("decimal(18,6)").alias("volume"),
                       "supp_nation"))
        return (vol.groupBy("o_year")
                .agg((F.sum(F.when(F.col("supp_nation") == "NATION_3",
                                   F.col("volume"))
                            .otherwise(F.lit(0).cast("decimal(18,6)")))
                      .cast("double")
                      / F.sum("volume").cast("double"))
                     .alias("mkt_share"),
                     F.round(F.sum("volume"), 4).cast("double")
                     .alias("total_volume")))

    def q9_profit_by_nation_year(spark, sf):
        # TPC-H Q9 shape: product-line profit per supplier nation per
        # order year (no partsupp table in the fixture schema, so
        # supply cost is the 0.6·p_retailprice·qty proxy — the join
        # DAG is the point: fact ⋈ filtered part ⋈ supplier ⋈ nation
        # ⋈ orders, dims broadcast, one shuffle for the final rollup)
        li = _load(spark, sf, "lineitem")
        part = _load(spark, sf, "part") \
            .filter(F.col("p_name").like("%red%")) \
            .select("p_partkey", "p_retailprice")
        supp = _load(spark, sf, "supplier") \
            .select("s_suppkey", "s_nationkey")
        nation = _load(spark, sf, "nation") \
            .select("n_nationkey", "n_name")
        orders = _load(spark, sf, "orders") \
            .select("o_orderkey", "o_orderdate")
        profit = (li.join(F.broadcast(part),
                          li.l_partkey == part.p_partkey)
                  .join(F.broadcast(supp),
                        li.l_suppkey == supp.s_suppkey)
                  .join(F.broadcast(nation),
                        supp.s_nationkey == nation.n_nationkey)
                  .join(orders, li.l_orderkey == orders.o_orderkey)
                  .select(F.col("n_name").alias("nation"),
                          F.year("o_orderdate").alias("o_year"),
                          (F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))
                           - F.lit(0.6) * F.col("p_retailprice")
                           * F.col("l_quantity"))
                          .cast("decimal(18,6)").alias("amount")))
        return (profit.groupBy("nation", "o_year")
                .agg(F.round(F.sum("amount"), 2).cast("double")
                     .alias("sum_profit")))

    def q15_top_supplier(spark, sf):
        # TPC-H Q15 shape: revenue view over one quarter, then the
        # supplier(s) whose revenue EQUALS the global max — the scalar
        # max is a one-row broadcast joined back on double equality
        # (safe: both sides are the same rounded decimal-sum cast)
        li = _load(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01")))
        supp = _load(spark, sf, "supplier")
        rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
               .agg(F.round(F.sum((F.col("l_extendedprice")
                                   * (1 - F.col("l_discount")))
                                  .cast("decimal(18,6)")), 4)
                    .cast("double").alias("total_revenue")))
        mx = rev.agg(F.max("total_revenue").alias("max_rev"))
        return (rev.crossJoin(F.broadcast(mx))
                .filter(F.col("total_revenue") == F.col("max_rev"))
                .join(F.broadcast(supp),
                      F.col("supplier_no") == supp.s_suppkey)
                .select("s_suppkey", "s_name", "total_revenue"))

    def q16_supplier_part_counts(spark, sf):
        # TPC-H Q16 shape: distinct-supplier counts per part
        # (brand, type, size) bucket, excluding one brand and every
        # negative-balance supplier via NOT IN (the fixture has no
        # partsupp table — the part↔supplier relation is the distinct
        # (l_partkey, l_suppkey) projection of the fact, which is the
        # same anti-join + two-phase distinct-agg plan)
        li = _load(spark, sf, "lineitem") \
            .select("l_partkey", "l_suppkey").distinct()
        part = _load(spark, sf, "part").filter(
            (F.col("p_brand") != "Brand#2")
            & (F.col("p_size") <= 20))
        bad = _load(spark, sf, "supplier") \
            .filter(F.col("s_acctbal") < 0).select("s_suppkey")
        kept = li.join(F.broadcast(bad),
                       li.l_suppkey == bad.s_suppkey, "left_anti")
        return (kept.join(F.broadcast(part),
                          kept.l_partkey == part.p_partkey)
                .groupBy("p_brand", "p_type", "p_size")
                .agg(F.countDistinct("l_suppkey")
                     .alias("supplier_cnt")))

    def q20_dominant_suppliers(spark, sf):
        # TPC-H Q20 shape: suppliers who shipped MORE THAN HALF of a
        # small part's 1995 volume (availqty has no fixture column, so
        # the >½·sum(qty) threshold compares the supplier's own
        # shipped quantity against the part total — same correlated
        # aggregate-vs-aggregate structure, exact decimal compare)
        li = _load(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01")))
        part = _load(spark, sf, "part") \
            .filter(F.col("p_name").like("small%")).select("p_partkey")
        supp = _load(spark, sf, "supplier")
        qty = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
               .groupBy("l_partkey", "l_suppkey")
               .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                    .alias("supp_qty")))
        tot = qty.groupBy("l_partkey") \
            .agg(F.sum("supp_qty").alias("part_qty"))
        dom = (qty.join(tot, "l_partkey")
               .filter(F.col("supp_qty") * 2 > F.col("part_qty")))
        return (dom.groupBy("l_suppkey")
                .agg(F.count(F.lit(1)).alias("n_parts_dominated"))
                .join(F.broadcast(supp),
                      F.col("l_suppkey") == supp.s_suppkey)
                .select("s_suppkey", "s_name", "n_parts_dominated"))

    def q21_late_sole_shippers(spark, sf):
        # TPC-H Q21 shape: suppliers who were the ONLY late shipper
        # on a multi-supplier finished order — EXISTS(other supplier on
        # the order) as a left-semi join, NOT EXISTS(other LATE
        # supplier) as a left-anti join, both over deduplicated
        # (order, supplier) pairs so no row multiplication survives
        # the quadratic self-joins ("late" = shipped >90 days after
        # the order date; the fixture has no receipt/commit dates)
        orders = _load(spark, sf, "orders") \
            .filter(F.col("o_orderstatus") == "F") \
            .select("o_orderkey", "o_orderdate")
        li = _load(spark, sf, "lineitem") \
            .select("l_orderkey", "l_suppkey", "l_shipdate")
        supp = _load(spark, sf, "supplier")
        pairs = li.select("l_orderkey", "l_suppkey").distinct()
        late = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                .filter(F.col("l_shipdate")
                        > F.col("o_orderdate")
                        + F.expr("INTERVAL 90 DAY"))
                .select("l_orderkey", "l_suppkey").distinct())
        o2 = pairs.select(F.col("l_orderkey").alias("ok"),
                          F.col("l_suppkey").alias("sk"))
        l2 = late.select(F.col("l_orderkey").alias("ok"),
                         F.col("l_suppkey").alias("sk"))
        sole = (late
                .join(o2, (late.l_orderkey == o2.ok)
                      & (late.l_suppkey != o2.sk), "left_semi")
                .join(l2, (late.l_orderkey == l2.ok)
                      & (late.l_suppkey != l2.sk), "left_anti"))
        return (sole.groupBy("l_suppkey")
                .agg(F.count(F.lit(1)).alias("numwait"))
                .join(F.broadcast(supp),
                      F.col("l_suppkey") == supp.s_suppkey)
                .select("s_suppkey", "s_name", "numwait"))

    def q2_min_price_supplier(spark, sf):
        # TPC-H Q2 shape: for each small STANDARD part, the
        # supplier(s) selling it at the MINIMUM observed unit price —
        # the correlated scalar-min subquery becomes a per-part min
        # aggregate joined back on double equality (both engines
        # derive the unit price from the same exact decimal sums with
        # one IEEE divide, so the equality is bit-identical)
        li = _load(spark, sf, "lineitem")
        part = _load(spark, sf, "part").filter(
            (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        supp = _load(spark, sf, "supplier")
        nation = _load(spark, sf, "nation") \
            .select("n_nationkey", "n_name")
        unit = (li.join(F.broadcast(part.select("p_partkey")),
                        li.l_partkey == F.col("p_partkey"))
                .groupBy("l_partkey", "l_suppkey")
                .agg((F.sum(F.col("l_extendedprice")
                            .cast("decimal(18,6)")).cast("double")
                      / F.sum(F.col("l_quantity")
                              .cast("decimal(18,2)")).cast("double"))
                     .alias("unit_price")))
        best = unit.groupBy("l_partkey") \
            .agg(F.min("unit_price").alias("min_price"))
        return (unit.join(best, "l_partkey")
                .filter(F.col("unit_price") == F.col("min_price"))
                .join(F.broadcast(supp),
                      F.col("l_suppkey") == supp.s_suppkey)
                .join(F.broadcast(nation),
                      supp.s_nationkey == nation.n_nationkey)
                .select(F.col("l_partkey").alias("p_partkey"),
                        "s_suppkey", "s_name",
                        F.col("n_name").alias("supp_nation"),
                        F.round("unit_price", 6).alias("unit_price")))

    def q11_value_concentration(spark, sf):
        # TPC-H Q11 shape: parts whose revenue through one nation's
        # suppliers exceeds a fraction of that nation's total — the
        # global scalar aggregate broadcasts back as a HAVING bound
        # (same regime as q22; the 0.001 threshold is a double
        # multiply of the exact decimal total on both engines)
        li = _load(spark, sf, "lineitem")
        supp = _load(spark, sf, "supplier")
        nation = _load(spark, sf, "nation") \
            .filter(F.col("n_name") == "NATION_5")
        ns = supp.join(F.broadcast(nation),
                       supp.s_nationkey == nation.n_nationkey) \
            .select("s_suppkey")
        val = (li.join(F.broadcast(ns), li.l_suppkey == ns.s_suppkey)
               .groupBy("l_partkey")
               .agg(F.sum((F.col("l_extendedprice")
                           * (1 - F.col("l_discount")))
                          .cast("decimal(18,6)")).alias("value_dec")))
        tot = val.agg(F.sum("value_dec").cast("double").alias("total"))
        return (val.crossJoin(F.broadcast(tot))
                .filter(F.col("value_dec").cast("double")
                        > F.lit(0.001) * F.col("total"))
                .select("l_partkey",
                        F.round(F.col("value_dec"), 2).cast("double")
                        .alias("part_value")))

    def q12_priority_by_delay(spark, sf):
        # TPC-H Q12 shape: conditional priority counts per shipping
        # class — the fixture has no l_shipmode, so the class is the
        # ship-delay bucket (>60 days = 'late'); the CASE-sum pair
        # compiles to one partial-aggregated pass, no join
        # re-expansion (orders⋈lineitem is the only shuffle)
        orders = _load(spark, sf, "orders") \
            .select("o_orderkey", "o_orderdate", "o_orderpriority")
        li = _load(spark, sf, "lineitem") \
            .select("l_orderkey", "l_shipdate")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return (j.select(
                    F.when(F.datediff("l_shipdate", "o_orderdate") > 60,
                           F.lit("late")).otherwise(F.lit("ontime"))
                    .alias("ship_class"), hi.alias("hi"))
                .groupBy("ship_class")
                .agg(F.sum(F.when(F.col("hi"), 1).otherwise(0))
                     .alias("high_line_count"),
                     F.sum(F.when(F.col("hi"), 0).otherwise(1))
                     .alias("low_line_count")))

    def market_basket_lift(spark, sf):
        # association-rule mining over co-purchase baskets: pair
        # support / confidence / lift from ONE distinct
        # (order, part) projection — the pair self-join reuses the
        # j6 co-occurrence plan (sorted-pair canonical form, shuffle
        # on orderkey only), the per-part counts broadcast back, and
        # both engines compute lift with the same two integer
        # products divided once as doubles
        li = _load(spark, sf, "lineitem") \
            .select("l_orderkey", "l_partkey").distinct()
        n_orders = li.select("l_orderkey").distinct() \
            .agg(F.count(F.lit(1)).alias("n_orders"))
        item_cnt = li.groupBy("l_partkey") \
            .agg(F.count(F.lit(1)).alias("item_cnt"))
        a = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").alias("item_a"))
        b = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").alias("item_b"))
        pairs = (a.join(b, "ok")
                 .filter(F.col("item_a") < F.col("item_b"))
                 .groupBy("item_a", "item_b")
                 .agg(F.count(F.lit(1)).alias("pair_cnt"))
                 .filter(F.col("pair_cnt") >= 3))
        ca = item_cnt.select(F.col("l_partkey").alias("item_a"),
                             F.col("item_cnt").alias("cnt_a"))
        cb = item_cnt.select(F.col("l_partkey").alias("item_b"),
                             F.col("item_cnt").alias("cnt_b"))
        return (pairs.join(F.broadcast(ca), "item_a")
                .join(F.broadcast(cb), "item_b")
                .crossJoin(F.broadcast(n_orders))
                .select("item_a", "item_b", "pair_cnt",
                        (F.col("pair_cnt").cast("double")
                         / F.col("cnt_a")).alias("confidence"),
                        ((F.col("pair_cnt") * F.col("n_orders"))
                         .cast("double")
                         / (F.col("cnt_a") * F.col("cnt_b")))
                        .alias("lift")))

    def graph_bfs_distances(spark, sf):
        # multi-source BFS (3 hops) from the 5 smallest product keys
        # over the symmetrized co-purchase graph — unrolled frontier
        # expansion, anti-joined visited set (operators/graph.py)
        from fashion_knowledge_graph_spark.operators.graph import (
            bfs_distances,
        )
        und = j6_cooccurrence_edges(spark, sf)
        e = und.select("src", "dst").unionByName(
            und.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst")))
        seeds = und.select(F.col("src").alias("node")).distinct() \
            .orderBy("node").limit(5)
        return bfs_distances(e, seeds, max_depth=3)

    def graph_harmonic_centrality(spark, sf):
        # seed-sampled harmonic closeness (Boldi-Vigna estimator
        # shape): Σ 1/d from 5 fixed seeds, 3 hops, over the
        # symmetrized co-purchase graph — ONE per-seed BFS loop whose
        # frontier key carries the seed id (operators/graph.py::
        # harmonic_centrality)
        from fashion_knowledge_graph_spark.operators.graph import (
            harmonic_centrality,
        )
        und = j6_cooccurrence_edges(spark, sf)
        e = und.select("src", "dst").unionByName(
            und.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst")))
        seeds = und.select(F.col("src").alias("node")).distinct() \
            .orderBy("node").limit(5)
        return harmonic_centrality(e, seeds, max_depth=3)

    def graph_ktruss(spark, sf):
        # 3-truss of the co-purchase graph, 2 peel rounds: every
        # surviving edge sits in ≥1 triangle of the surviving
        # subgraph — the edge-level cohesion miner (k-core's
        # edge analogue; operators/graph.py::ktruss_peel)
        from fashion_knowledge_graph_spark.operators.graph import (
            ktruss_peel,
        )
        und = j6_cooccurrence_edges(spark, sf)
        return ktruss_peel(und.select("src", "dst"), k=3, rounds=2)

    def graph_luby_mis(spark, sf):
        # Luby's maximal independent set, 2 derandomized rounds, over
        # the co-purchase graph — md5 per-round priorities, strict
        # (h, id) total order, winners + neighbors deactivate
        # (operators/graph.py::luby_mis)
        from fashion_knowledge_graph_spark.operators.graph import (
            luby_mis,
        )
        und = j6_cooccurrence_edges(spark, sf)
        return luby_mis(und.select("src", "dst"), rounds=2)

    def graph_betweenness(spark, sf):
        # seed-sampled Brandes betweenness (5 fixed sources, 3-hop
        # horizon) over the symmetrized co-purchase graph: forward
        # pass accumulates exact BIGINT shortest-path counts per
        # level, backward pass unrolls the dependency recurrence
        # δ(v)=Σ (σ_v/σ_w)(1+δ(w)) — operators/graph.py::
        # betweenness_sampled
        from fashion_knowledge_graph_spark.operators.graph import (
            betweenness_sampled,
        )
        und = j6_cooccurrence_edges(spark, sf)
        e = und.select("src", "dst").unionByName(
            und.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst")))
        seeds = und.select(F.col("src").alias("node")).distinct() \
            .orderBy("node").limit(5)
        return betweenness_sampled(e, seeds, max_depth=3)

    def funnel_view_click_purchase(spark, sf):
        # ordered funnel (behavioral analytics): first view → first
        # click after it → first purchase after that, per user
        # (operators/temporal.py::funnel — co-partitioned left joins,
        # one shuffle key throughout)
        from fashion_knowledge_graph_spark.operators.temporal import (
            funnel,
        )
        ev = _load(spark, sf, "events")
        fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        out = funnel(ev, ["view", "click", "purchase"])
        return out.select(
            "user_id",
            F.date_format("t1", fmt).alias("view_ts"),
            F.date_format("t2", fmt).alias("click_ts"),
            F.date_format("t3", fmt).alias("purchase_ts"))

    def asof_attribution_cogroup(spark, sf):
        # the SAME as-of semantics via the cogrouped-map API
        # (groupBy().cogroup().applyInPandas → per-key merge_asof):
        # one shuffle per side, pandas kernel per key — the wide-
        # payload variant of asof_join; identical result, same oracle
        from fashion_knowledge_graph_spark.operators.temporal import (
            asof_join_cogroup,
        )
        ev = _load(spark, sf, "events")
        fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        purchases = ev.filter(F.col("event_type") == "purchase") \
            .select("event_id", "user_id", "ts")
        views = ev.filter(F.col("event_type") == "view") \
            .select("user_id", "ts", F.col("event_id").alias("view_id"))
        out = asof_join_cogroup(purchases, views, by="user_id", ts="ts",
                                payload_cols=["view_id"])
        return out.select(
            "event_id", "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            "asof_view_id",
            F.date_format("asof_ts", fmt).alias("view_ts"))

    def range_join_attribution(spark, sf):
        # banded range join (bucketed equi-join over time bins + exact
        # filter — no non-equi nested loop): every view within 3 days
        # before each purchase, same user
        from fashion_knowledge_graph_spark.operators.temporal import (
            range_join,
        )
        ev = _load(spark, sf, "events")
        fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        purchases = ev.filter(F.col("event_type") == "purchase") \
            .select("event_id", "user_id", "ts")
        views = ev.filter(F.col("event_type") == "view") \
            .select("user_id", "ts", F.col("event_id").alias("view_id"))
        out = range_join(purchases, views, by="user_id", ts="ts",
                         lookback="3 days", payload_cols=["view_id"])
        return out.select(
            "event_id", "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            "in_range_view_id",
            F.date_format("in_range_ts", fmt).alias("view_ts"))

    def sessionize_events(spark, sf):
        # gap-based sessionization (lag + running sum over one
        # entity-keyed shuffle); 4h gap ⇒ multi-event sessions at the
        # fixture event rate
        from fashion_knowledge_graph_spark.operators.temporal import (
            session_bounds,
        )
        return session_bounds(_load(spark, sf, "events"),
                              by="user_id", ts="ts", gap="4 hours")

    def stream_view_purchase_join(spark, sf):
        # stream-stream watermarked interval join (two file-source
        # streams → stateful join → append-mode memory sink): each
        # purchase attributed to same-user views within 1 h before
        # it. Lenient watermark in the runner ⇒ stream ≡ the batch
        # interval join, which the oracle replays directly.
        from fashion_knowledge_graph_spark.streaming.incremental import (
            stream_interval_join_once,
        )
        return stream_interval_join_once(
            spark, os.path.join(sf, "events.parquet"))

    def stream_windowed_agg(spark, sf):
        # 2.I: the SAME tumbling-window aggregation run as a REAL
        # Structured Streaming query (file source → stateful agg →
        # complete-mode memory sink, availableNow) — stream ≡ batch by
        # construction, so the stateful streaming operator itself is
        # value-hash-checked against the relational oracle.
        from fashion_knowledge_graph_spark.streaming.incremental import (
            stream_tumbling_agg_once,
        )
        return stream_tumbling_agg_once(
            spark, os.path.join(sf, "events.parquet"))

    def stream_dedup_distinct(spark, sf):
        # Streaming dedup with bounded state
        # (dropDuplicatesWithinWatermark): over a drained static
        # source with a lenient watermark the emitted key set ≡ batch
        # SELECT DISTINCT by construction; the state-expiry semantics
        # (key re-emission after the watermark passes) are pinned in
        # tests/test_streaming.py.
        from fashion_knowledge_graph_spark.streaming.incremental import (
            stream_dedup_once,
        )
        return stream_dedup_once(
            spark, os.path.join(sf, "events.parquet"))

    def stream_merge_upsert(spark, sf):
        # streaming MERGE INTO: 3 ordered micro-batches (event_id % 3,
        # mtimes forced increasing so the file source's batch order is
        # deterministic) upsert into a SnapshotTable keyed on
        # (user_id, event_type), latest event_id per key per batch
        # wins — final state = row ranked first by (batch, event_id)
        # desc, which is exactly what the oracle replays.
        from fashion_knowledge_graph_spark.streaming.incremental import (
            stream_merge_once,
        )
        src = tempfile.mkdtemp(prefix="fkg_smerge_src_")
        ev = _load(spark, sf, "events")
        for i in range(3):
            d = os.path.join(src, f"b{i}")
            ev.filter(F.col("event_id") % 3 == i).coalesce(1) \
                .write.mode("overwrite").parquet(d)
            for root_, _, files_ in os.walk(d):
                for fl in files_:
                    os.utime(os.path.join(root_, fl),
                             (1_700_000_000 + i, 1_700_000_000 + i))
        return stream_merge_once(
            spark, src + "/*", tempfile.mkdtemp(prefix="fkg_smerge_t_"))

    def f9_content_ids(spark, sf):
        # F9 (reference app/main.py:676,704 uses uuid4 for image ids):
        # content-addressed deterministic ids — md5 for the short
        # form, sha2-256 over (id, text) for the collision-safe form —
        # reproducible across reruns/engines, unlike uuid().
        docs = _load(spark, sf, "documents")
        return docs.select(
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("id_md5"),
            F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                            F.coalesce(F.col("text"), F.lit(""))),
                   256).alias("content_sha2"))

    # -- text analytics / dedup / similarity (training-data ops) -------
    def text_token_stats(spark, sf):
        docs = _load(spark, sf, "documents")
        st = tx.char_stats(F.col("text"))
        return docs.select(
            "doc_id", st["n_tokens"].alias("n_tokens"),
            st["n_chars"].alias("n_chars_m"),
            F.round(st["digit_ratio"], 6).alias("digit_ratio"),
            F.round(tx.mean_token_len(F.col("text")), 6).alias("mean_tok_len"))

    def text_quality(spark, sf):
        docs = _load(spark, sf, "documents")
        return docs.select(
            "doc_id",
            F.round(tx.quality_score(F.col("text")), 6).alias("quality"),
            F.round(tx.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"))

    def text_lang_id(spark, sf):
        return tx.lang_id(_load(spark, sf, "documents"))

    def text_langid_confusion(spark, sf):
        # self-evaluation of the lang-ID heuristic against the ground-
        # truth lang column: the full confusion matrix (true × pred)
        # with per-cell counts and per-true-language recall — the
        # eval loop a production lang filter tunes against
        pred = tx.lang_id(_load(spark, sf, "documents"))             .select("doc_id", "lang_pred")
        truth = _load(spark, sf, "documents").select("doc_id", "lang")
        cm = (truth.join(pred, "doc_id")
              .groupBy(F.col("lang").alias("lang_true"), "lang_pred")
              .agg(F.count(F.lit(1)).alias("n")))
        tot = cm.groupBy("lang_true").agg(F.sum("n").alias("t"))
        return (cm.join(tot, "lang_true")
                .select("lang_true", "lang_pred", "n",
                        F.round(F.col("n").cast("double")
                                / F.col("t"), 6).alias("recall")))

    def text_fingerprint(spark, sf):
        docs = _load(spark, sf, "documents")
        return docs.select(
            "doc_id", tx.fingerprint_md5(F.col("text")).alias("fingerprint"))

    def _docs_split(spark, sf):
        # the testdata documents table is one parquet file = one scan
        # task; spread it so the dedup kernels/aggregations use the
        # whole session (at corpus scale the input arrives in
        # thousands of splits and this repartition disappears)
        return _load(spark, sf, "documents") \
            .repartition(spark.sparkContext.defaultParallelism)

    def dedup_exact(spark, sf):
        return dd.exact_dedup(_docs_split(spark, sf))

    def dedup_ngram_jaccard(spark, sf):
        out = dd.jaccard_pairs_exact(_docs_split(spark, sf),
                                     threshold=0.35)
        return out.select("id_a", "id_b",
                          F.round("jaccard", 6).alias("jaccard"))

    def dedup_threshold_sweep(spark, sf):
        # threshold-sensitivity datasheet: near-dup pair counts per
        # similarity band from ONE inverted-index pass — the tuning
        # artifact that answers "what does raising the dedup
        # threshold to 0.7 actually drop" without re-running the join
        # per candidate threshold
        out = dd.jaccard_pairs_exact(_docs_split(spark, sf),
                                     threshold=0.35)
        band = (F.when(F.col("jaccard") >= 0.9, "0.90+")
                .when(F.col("jaccard") >= 0.7, "0.70-0.90")
                .when(F.col("jaccard") >= 0.5, "0.50-0.70")
                .otherwise("0.35-0.50"))
        return out.groupBy(band.alias("band")).agg(
            F.count(F.lit(1)).alias("n_pairs"))

    def dedup_jaccard_prefix(spark, sf):
        # PPJoin-style prefix filtering: identical output to
        # dedup_ngram_jaccard (same brute-force oracle) from a
        # candidate set pruned by indexing only each doc's rarest
        # |d|-ceil(t|d|)+1 shingles (operators/dedup.py)
        out = dd.jaccard_pairs_prefix(_docs_split(spark, sf),
                                      threshold=0.35)
        return out.select("id_a", "id_b",
                          F.round("jaccard", 6).alias("jaccard"))

    def dedup_minhash_lsh(spark, sf):
        out = dd.minhash_lsh_pairs(_docs_split(spark, sf),
                                   threshold=0.35, num_hashes=128, bands=32)
        return out.select("id_a", "id_b",
                          F.round("jaccard", 6).alias("jaccard"))

    def dedup_minhash_incremental(spark, sf):
        # continuous-crawl maintenance path: duplicate pairs for a
        # grown corpus = committed pairs (seeded from ~70% of docs) ∪
        # pairs incident to the new docs via the probe-restricted band
        # join (dedup.minhash_lsh_pairs_incremental). Signatures are
        # per-doc deterministic, so the union EXACTLY equals the
        # from-scratch run the oracle replays over the full corpus.
        docs = _docs_split(spark, sf)
        seed = docs.filter(
            F.crc32(F.col("doc_id").cast("string")) % 10 < 7)
        new = docs.filter(
            F.crc32(F.col("doc_id").cast("string")) % 10 >= 7)
        kw = dict(threshold=0.35, num_hashes=128, bands=32)
        old_pairs = dd.minhash_lsh_pairs(seed, **kw)
        out = dd.minhash_lsh_pairs_incremental(docs, new, old_pairs,
                                               **kw)
        return out.select("id_a", "id_b",
                          F.round("jaccard", 6).alias("jaccard"))

    def dedup_minhash_estimate(spark, sf):
        # sketch-accuracy datasheet for the dedup path: per verified
        # duplicate pair, the MinHash lane-agreement ESTIMATE of
        # Jaccard next to the exact value and the signed error — both
        # exact rationals (k/128 and integer set ratios), so the hash
        # check is bit-for-bit. The lane compare is a 128-element
        # array fold per PAIR (pairs are few; the corpus-sized work
        # stayed in the Arrow signature kernel).
        docs = _docs_split(spark, sf)
        pairs = dd.minhash_lsh_pairs(docs, threshold=0.35,
                                     num_hashes=128, bands=32)
        sig = dd.minhash_signature(docs, "doc_id", "text",
                                   n=3, num_hashes=128)
        sa = sig.select(F.col("id").alias("id_a"),
                        F.col("sig").alias("siga"))
        sb = sig.select(F.col("id").alias("id_b"),
                        F.col("sig").alias("sigb"))
        j = pairs.join(sa, "id_a").join(sb, "id_b")
        # 128.0 would parse as a DECIMAL literal in the SQL string
        # (int/decimal -> decimal, breaking double parity) — cast
        mh = F.expr("aggregate(zip_with(siga, sigb, "
                    "(x, y) -> if(x = y, 1, 0)), 0, "
                    "(a, x) -> a + x) / cast(128 as double)")
        # err from the ROUNDED operands: the exact-jaccard verify
        # differs between engines below 1e-6 (different but equivalent
        # expression trees), so the difference must not resurface it
        return j.select(
            "id_a", "id_b",
            F.round("jaccard", 6).alias("jaccard"),
            F.round(mh, 6).alias("mh_est"),
            F.round(F.round(mh, 6) - F.round("jaccard", 6), 6)
            .alias("err"))

    def dedup_simhash(spark, sf):
        return dd.simhash_pairs(_docs_split(spark, sf), max_hamming=8)

    def dedup_clusters(spark, sf):
        # End-to-end dedup resolution: LSH candidate pairs → verified
        # duplicate pairs → connected components → canonical survivor
        # (min doc_id) per duplicate group; singletons keep themselves.
        # The 100 TB path is the distributed min-label propagation
        # inside dedup_keep (components.py); the oracle replays the
        # whole chain — candidate set, verify, transitive closure — in
        # SQL (recursive CTE).
        docs = _docs_split(spark, sf)
        pairs = dd.minhash_lsh_pairs(docs, threshold=0.35,
                                     num_hashes=128, bands=32)
        return dd.dedup_keep(docs, pairs)

    def domain_mix_split(spark, sf):
        # Corpus mixing + dataset split (LLM pretraining): per-lang
        # sampling rates then a disjoint train/val/test assignment,
        # both pure deterministic functions of (salt, doc_id) via the
        # portable 60-bit md5 hash — reproducible across reruns,
        # partitionings, and cluster sizes, unlike rand()/df.sample
        # (operators/sampling.py). The oracle replays the identical
        # integer-threshold decisions.
        from fashion_knowledge_graph_spark.operators.sampling import (
            domain_sample, hash_split,
        )
        docs = _load(spark, sf, "documents")
        mixed = domain_sample(docs, "doc_id", "lang", _MIX_RATES,
                              salt="mix")
        return hash_split(mixed, "doc_id", _SPLIT_WEIGHTS,
                          salt="split") \
            .select("doc_id", "lang", "source", "split")

    def zorder_events_key(spark, sf):
        # Morton z-order key over (user_id, value-cents): the
        # clustering key behind multi-column min/max data skipping
        # (functions/zorder.py; zorder_by + SnapshotTable stats
        # pruning is pinned in test_zorder). Pure codegen BIGINT
        # bit-interleave — the oracle rebuilds the key bit-for-bit.
        from fashion_knowledge_graph_spark.functions.zorder import (
            bucketize, zorder_key,
        )
        ev = _load(spark, sf, "events")
        cents = F.floor(F.col("value") * 100).cast("long")
        z = zorder_key([bucketize(F.col("user_id"), 0, 2000, 16),
                        bucketize(cents, 0, 100000, 16)], bits=16)
        return ev.select("event_id", z.alias("zkey"))

    def emb_quantize_int8(spark, sf):
        # int8 symmetric max-abs quantization of the embeddings table
        # (operators/quantize.py): integer codes are replayed EXACTLY
        # by the oracle (portable floor(x+0.5) rounding, checksummed),
        # reconstruction error stats rounded
        from fashion_knowledge_graph_spark.operators.quantize import (
            quantize_int8,
        )
        emb = _load(spark, sf, "embeddings")
        out = quantize_int8(emb, id_col="vec_id", vec_col="embedding")
        return out.select(
            F.col("id").alias("vec_id"),
            F.round("scale", 6).alias("scale"),
            "q_sum", "q_l1",
            F.round("max_err", 6).alias("max_err"),
            F.round("mse", 8).alias("mse"))

    def ann_hard_negatives(spark, sf):
        # contrastive-training data: top-5 most-similar DIFFERENT-label
        # items per query (operators/similarity.py::hard_negatives)
        emb = _load(spark, sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        return sim.hard_negatives(emb, k=5, queries=q) \
            .select("query_id", "corpus_id", "rank")

    def ann_int8_topk(spark, sf):
        # the quantized search path: quantize the corpus, search over
        # the int8 CODES (cosine is scale-invariant so no dequant);
        # integer dots are exact in both engines, so this oracle is
        # bit-exact with no float-tolerance caveat
        from fashion_knowledge_graph_spark.operators.quantize import (
            int8_cosine_topk, quantize_int8,
        )
        emb = _load(spark, sf, "embeddings")
        qz = quantize_int8(emb).select("id", "qvec")
        q = qz.filter(F.col("id") < 20)
        return int8_cosine_topk(q, qz, k=5) \
            .select("query_id", "corpus_id", "rank")

    def ann_int8_ranking_eval(spark, sf):
        # Quantization-fidelity datasheet: does the int8 index still
        # retrieve the EXACT float top-1? truth = float-cosine rank-1
        # per query, ranked = int8 top-10; filtered MRR + hits@1/5/10
        # via operators/similarity.py::ranking_eval (one truth-sized
        # join + one aggregate — no windows beyond the rankers' own)
        from fashion_knowledge_graph_spark.operators.quantize import (
            int8_cosine_topk, quantize_int8,
        )
        from fashion_knowledge_graph_spark.operators.similarity import (
            ranking_eval,
        )
        emb = _load(spark, sf, "embeddings")
        fq = emb.filter(F.col("vec_id") < 20)
        truth = sim.cosine_topk(fq, emb, k=1) \
            .select("query_id", "corpus_id")
        qz = quantize_int8(emb).select("id", "qvec")
        iq = qz.filter(F.col("id") < 20)
        ranked = int8_cosine_topk(iq, qz, k=10)
        return ranking_eval(ranked, truth, ks=(1, 5, 10))

    def text_pmi_collocations(spark, sf):
        # collocation mining: pointwise mutual information of adjacent
        # word pairs, ln((c_ab/N_b) / ((c_a/N_u)(c_b/N_u))), min-count
        # 5. Corpus totals ride a broadcast crossJoin (two scalar
        # rows), never a driver collect; both count aggs are
        # partial-agg'd. The bigram posting comes from the shared
        # Arrow shingle kernel.
        from fashion_knowledge_graph_spark.functions import text as txf
        docs = _load(spark, sf, "documents")
        toks = docs.select(F.explode(txf.tokens(F.col("text")))
                           .alias("w"))
        uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
        # corpus totals from per-doc token counts — one cheap codegen
        # agg over the docs scan, NOT a second pass over the exploded
        # token/bigram tables (n_u = Σ n_tokens, n_b = Σ (n_tokens-1))
        nt = F.coalesce(txf.token_count(F.col("text")), F.lit(0))
        totals = docs.agg(
            F.sum(nt).alias("n_u"),
            F.sum(F.greatest(nt - 1, F.lit(0))).alias("n_b"))
        # adjacent pairs: NON-distinct bigrams (posexplode windows),
        # not the deduped shingle posting — PMI needs true counts
        big = docs.select(
            txf.tokens(F.col("text")).alias("tk")) \
            .select(F.posexplode("tk").alias("i", "w1"), "tk") \
            .filter(F.col("i") < F.size("tk") - 1) \
            .select("w1", F.col("tk")[F.col("i") + 1].alias("w2"))
        bi = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab")) \
            .filter(F.col("c_ab") >= 5)
        ua = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
        ub = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
        out = bi.join(ua, "w1").join(ub, "w2") \
            .crossJoin(F.broadcast(totals))
        pmi = F.log((F.col("c_ab") / F.col("n_b"))
                    / ((F.col("c_a") / F.col("n_u"))
                       * (F.col("c_b") / F.col("n_u"))))
        return out.select("w1", "w2", "c_ab",
                          F.round(pmi, 6).alias("pmi"))

    def events_cohort_retention(spark, sf):
        # cohort retention matrix: users grouped by first-activity
        # DAY (the corpus spans one month), distinct active users per
        # (cohort_day, days_since). Two user-keyed aggs + one join —
        # classic product analytics, every shuffle on user_id or the
        # (small) matrix key. Days as portable epoch-day integers.
        ev = _load(spark, sf, "events").select(
            "user_id",
            F.datediff(F.to_date("ts"),
                       F.lit("1970-01-01").cast("date")).alias("d_abs"))
        act = ev.distinct()
        first = act.groupBy("user_id").agg(
            F.min("d_abs").alias("cohort_day"))
        return (act.join(first, "user_id")
                .groupBy("cohort_day",
                         (F.col("d_abs") - F.col("cohort_day"))
                         .alias("days_since"))
                .agg(F.countDistinct("user_id").alias("active_users")))

    def weighted_doc_sample(spark, sf):
        # weighted sampling without replacement (Efraimidis–Spirakis):
        # 10 docs per lang, inclusion probability ∝ n_chars; the
        # ln(u)/w ranking uses the portable hash so the oracle
        # reproduces the SAME sample bit-for-bit
        from fashion_knowledge_graph_spark.operators.sampling import (
            weighted_sample_k,
        )
        docs = _load(spark, sf, "documents")
        return weighted_sample_k(docs, "doc_id", "n_chars", k=10,
                                 by=["lang"]) \
            .select("doc_id", "lang", "n_chars")

    def text_bm25_topk(spark, sf):
        # BM25 ranked retrieval (Lucene idf) for a fixed 3-term query
        # — the lexical twin of the embedding searches; the token
        # explode is filtered to the query terms before any shuffle
        from fashion_knowledge_graph_spark.functions.text import (
            bm25_topk,
        )
        docs = _load(spark, sf, "documents") \
            .filter(F.col("text").isNotNull())
        return bm25_topk(docs, ["spark", "join", "fast"], k=20)

    def hybrid_search_rrf(spark, sf):
        # hybrid retrieval, the production search shape: lexical BM25
        # list + semantic cosine list (doc 0's embedding as the query)
        # fused with RRF k=60, top-20 — both lists and the fusion are
        # existing operators; every stage already oracle-replayable
        from fashion_knowledge_graph_spark.functions.text import (
            bm25_topk,
        )
        docs = _load(spark, sf, "documents") \
            .filter(F.col("text").isNotNull())
        emb = _load(spark, sf, "embeddings")
        lex = bm25_topk(docs, ["spark", "join", "fast"], k=50) \
            .select("doc_id", "rank")
        sem = sim.cosine_topk(emb.filter(F.col("vec_id") == 0),
                              emb, k=50) \
            .select(F.col("corpus_id").alias("doc_id"), "rank")
        fused = rrf_fuse([lex, sem], keys=[], id_col="doc_id", k=60) \
            .withColumn("rrf_score", F.round("rrf_score", 6))
        # rank on the ROUNDED score (exactly what the oracle ranks on)
        # so sub-1e-6 score differences can't reorder across engines
        return add_rank(fused, [],
                        [F.desc("rrf_score"), F.asc("doc_id")]) \
            .filter(F.col("rank") <= 20) \
            .select("doc_id", "rrf_score", "rank")

    def text_lm_score(spark, sf):
        # CCNet-style LM quality stand-in: per-doc mean unigram
        # log-likelihood under the corpus's own (add-one-smoothed)
        # unigram model — two partial-agg'd passes (vocab counts,
        # per-doc sum) joined on the token; high-perplexity docs rank
        # last. ln arithmetic identical in both engines, rounded.
        from fashion_knowledge_graph_spark.functions import text as txf
        docs = _load(spark, sf, "documents") \
            .filter(F.col("text").isNotNull())
        tok = docs.select("doc_id",
                          F.explode(txf.tokens(F.col("text")))
                          .alias("w"))
        uc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
        totals = uc.agg(F.sum("c_w").alias("n_tok"),
                        F.count(F.lit(1)).alias("vocab"))
        logp = F.log((F.col("c_w") + 1).cast("double")
                     / (F.col("n_tok") + F.col("vocab")).cast("double"))
        return (tok.join(uc, "w").crossJoin(F.broadcast(totals))
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_tokens"),
                     F.round(F.sum(logp)
                             / F.count(F.lit(1)), 6).alias("mean_logp")))

    def text_bigram_lm(spark, sf):
        # CCNet/KenLM-shaped quality filter: score EVERY doc under a
        # stupid-backoff bigram LM built from the deterministic
        # hash_split train split — held-out docs hit real OOV
        # bigrams, so both scoring branches are live; the oracle
        # replays the split threshold, the counts, and the backoff
        from fashion_knowledge_graph_spark.operators.quality import (
            bigram_lm_score,
        )
        from fashion_knowledge_graph_spark.operators.sampling import (
            hash_split,
        )
        docs = _load(spark, sf, "documents") \
            .filter(F.col("text").isNotNull())
        split = hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt="split")
        model = split.filter(F.col("split") == "train")
        return bigram_lm_score(docs, model)

    def events_daily_anomaly(spark, sf):
        # ops-analytics anomaly scoring: per event_type daily counts
        # vs that type's own mean/stddev → z-score (population stddev
        # for portability); |z| flags volume anomalies
        ev = _load(spark, sf, "events")
        daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type") \
            .agg(F.count(F.lit(1)).alias("n"))
        wt = Window.partitionBy("event_type")
        sd = F.stddev_pop("n").over(wt)
        # constant daily counts ⇒ stddev 0: z is undefined (NULL), not
        # a DIVIDE_BY_ZERO crash under Spark's ANSI default
        return daily.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type", "n",
            F.when(sd != 0,
                   F.round((F.col("n") - F.avg("n").over(wt)) / sd, 6))
            .alias("z"))

    def corpus_stats_card(spark, sf):
        # the "datasheet" rollup every corpus release ships: per
        # (lang, source) doc counts, token totals, char totals, mean
        # quality — one partial-agg'd pass, all signals codegen
        from fashion_knowledge_graph_spark.functions import text as txf
        docs = _load(spark, sf, "documents")
        nt = F.coalesce(txf.token_count(F.col("text")), F.lit(0))
        return (docs.groupBy("lang", "source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(nt).alias("total_tokens"),
                     F.sum(F.coalesce(F.length("text"), F.lit(0)))
                     .alias("total_chars"),
                     F.round(F.avg(txf.quality_score(F.col("text"))), 6)
                     .alias("mean_quality")))

    def ab_experiment_lift(spark, sf):
        # growth-analytics composition of the deterministic splitter:
        # users hash-assigned 50/50 to control/treatment (same
        # portable thresholds as domain_mix_split), per-variant
        # purchase-value mean + a pooled two-sample z statistic —
        # reproducible assignment is the entire point (rand() would
        # reassign users every run)
        from fashion_knowledge_graph_spark.operators.sampling import (
            hash_split,
        )
        ev = _load(spark, sf, "events") \
            .filter(F.col("event_type") == "purchase") \
            .select("user_id", "value")
        asg = hash_split(ev, "user_id", {"control": 0.5,
                                         "treatment": 0.5},
                         salt="ab1", split_col="variant")
        per = asg.groupBy("variant").agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var"))
        c = per.filter(F.col("variant") == "control") \
            .select(F.col("n").alias("n_c"), F.col("mean").alias("m_c"),
                    F.col("var").alias("v_c"))
        t = per.filter(F.col("variant") == "treatment") \
            .select(F.col("n").alias("n_t"), F.col("mean").alias("m_t"),
                    F.col("var").alias("v_t"))
        j = c.crossJoin(t)
        se = F.sqrt(F.col("v_t") / F.col("n_t")
                    + F.col("v_c") / F.col("n_c"))
        # degenerate slices (constant values) ⇒ se 0: z undefined
        # (NULL), not an ANSI DIVIDE_BY_ZERO crash
        z = F.when(se != 0, (F.col("m_t") - F.col("m_c")) / se)
        return j.select(
            "n_c", "n_t",
            F.round("m_c", 6).alias("mean_control"),
            F.round("m_t", 6).alias("mean_treatment"),
            F.round(F.col("m_t") - F.col("m_c"), 6).alias("lift"),
            F.round(z, 6).alias("z_stat"))

    def funnel_conversion_rates(spark, sf):
        # step-to-step conversion percentages over the funnel output —
        # the number a growth team actually reads
        from fashion_knowledge_graph_spark.operators.temporal import (
            funnel,
        )
        ev = _load(spark, sf, "events")
        f = funnel(ev, ["view", "click", "purchase"])
        return f.agg(
            F.count(F.lit(1)).alias("entered"),
            F.count("t2").alias("clicked"),
            F.count("t3").alias("purchased"),
            F.round(F.count("t2") / F.count(F.lit(1)).cast("double"), 6)
            .alias("click_rate"),
            # nobody clicked ⇒ rate undefined (NULL), not an ANSI
            # DIVIDE_BY_ZERO crash
            F.round(F.when(F.count("t2") > 0,
                           F.count("t3") / F.count("t2").cast("double")),
                    6).alias("purchase_rate"))

    def text_quality_gate(spark, sf):
        # Dolma-style declarative mixer: fixed rule set, one verdict
        # per doc (first failing rule). PII injected deterministically
        # (corpus carries none) with the same expression as
        # text_pii_redact so the pii rule fires non-vacuously.
        from fashion_knowledge_graph_spark.operators.quality import (
            quality_gate,
        )
        docs = _load(spark, sf, "documents")
        aug = F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" contact user"),
                     F.col("doc_id").cast("string"),
                     F.lit("@example.com via https://shop.example.com/i/"),
                     F.col("doc_id").cast("string"))
        ).when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" call (555) 010-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"),
                            4, "0"))
        ).otherwise(F.col("text"))
        return quality_gate(
            docs.select("doc_id", aug.alias("text")),
            min_tokens=30, max_rep_frac=0.2,
            allowed_langs=("en", "de", "es", "fr"), max_pii=0)

    def dedup_dup_spans(spark, sf):
        # window-granular substring-duplication stats: 10-token
        # windows appearing in >=2 docs flagged per doc
        # (operators/dedup.py::duplicated_span_stats)
        return dd.duplicated_span_stats(_docs_split(spark, sf),
                                        n=10, min_docs=2)

    def decontam_overlap(spark, sf):
        # Benchmark decontamination (LLM pretraining hygiene): docs
        # with doc_id % 41 == 0 stand in for a held-out eval set;
        # training docs sharing any word-4-gram with them are flagged
        # with overlap stats. Bench posting list broadcasts, so the
        # train side never shuffles (operators/dedup.py::decontaminate)
        docs = _docs_split(spark, sf).filter(F.col("text").isNotNull())
        bench = docs.filter(F.col("doc_id") % 41 == 0)
        train = docs.filter(F.col("doc_id") % 41 != 0)
        return dd.decontaminate(train, bench, n=4) \
            .select(F.col("id").alias("train_id"), "n_hit_shingles",
                    "n_bench_docs", "train_shingles",
                    "contamination_frac")

    def embedding_near_dup(spark, sf):
        # auto-dispatch: exact matmul at this scale (oracle config);
        # corpora over the budget switch to the LSH-blocked path
        out = dd.embedding_near_dup_auto(_load(spark, sf, "embeddings"),
                                         threshold=0.3)
        return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))

    def cluster_dbscan(spark, sf):
        # density clustering over the embedding corpus: ε-neighbor
        # pairs from the exact cosine path (the oracle config — the
        # LSH-blocked or ANN candidate path drops in unchanged at
        # scale), then DBSCAN semantics in pure relational ops: core
        # = ≥3 neighbors, clusters = CC over core–core pairs, border
        # → min core neighbor's cluster, noise absent
        # (operators/clustering.py::dbscan_from_pairs)
        from fashion_knowledge_graph_spark.operators.clustering import (
            dbscan_from_pairs,
        )
        pairs = dd.embedding_near_dup_auto(
            _load(spark, sf, "embeddings"), threshold=0.3) \
            .select("id_a", "id_b")
        return dbscan_from_pairs(pairs, min_pts=3,
                                 id_col="vec_id",
                                 src="id_a", dst="id_b")

    def semdedup_pairs(spark, sf):
        # SemDeDup: k-means-blocked semantic near-dup — the oracle
        # replays the 2-iteration Lloyd assignment (same CTEs as
        # kmeans_clusters) and brute-forces pairs within clusters
        out = dd.semantic_dedup(_load(spark, sf, "embeddings"),
                                k=8, iterations=2, threshold=0.3)
        return out.select("id_a", "id_b",
                          F.round("cosine", 6).alias("cosine"))

    def emb_anisotropy(spark, sf):
        # embedding-space health: the pairwise-cosine distribution on
        # a deterministic sample (vec_id < 100 → 4950 pairs) — mean
        # cosine far above 0 is the anisotropy/hubness failure mode
        # that silently wrecks cosine retrieval; moments + a high-sim
        # mass fraction, all from one pair join
        emb = _load(spark, sf, "embeddings").filter(
            F.col("vec_id") < 100)
        a = emb.select(F.col("vec_id").alias("ia"),
                       F.col("embedding").alias("va"))
        b = emb.select(F.col("vec_id").alias("ib"),
                       F.col("embedding").alias("vb"))
        from fashion_knowledge_graph_spark.functions.embeddings import (
            cosine_col,
        )
        pairs = a.join(b, F.col("ia") < F.col("ib"))
        c = cosine_col(F.col("va"), F.col("vb"))
        return pairs.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(c), 6).alias("mean_cos"),
            F.round(F.stddev_pop(c), 6).alias("std_cos"),
            F.round(F.avg((c > 0.8).cast("double")), 6)
            .alias("frac_above_08"))

    def ann_cosine_topk(spark, sf):
        emb = _load(spark, sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        return sim.cosine_topk(q, emb, k=5).select(
            "query_id", "corpus_id", "rank")

    def ann_lsh_topk(spark, sf):
        # Sign-LSH strategy in its exhaustive configuration (nbits=0 →
        # one constant band → every pair is a candidate ⇒ exact top-k),
        # the oracle-checkable config that still exercises the full
        # production code path: signature UDF, banded candidate join,
        # vector re-join by id, Arrow cosine re-rank, top-k window.
        # Partial-bucket recall (the 100 TB config) is pinned in
        # tests/test_similarity.py (recall ≥ 0.9 vs exact).
        emb = _load(spark, sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        dim = len(emb.select("embedding").first()[0])
        return sim.lsh_topk(q, emb, k=5, dim=dim, nbits=0, nbands=1) \
            .select("query_id", "corpus_id", "rank")

    def ann_ivf_topk(spark, sf):
        # exhaustive probe ⇒ exact — the oracle-checkable configuration;
        # partial-probe recall is covered in tests/test_similarity.py
        emb = _load(spark, sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        return sim.ivf_topk(q, emb, k=5, ncentroids=8, nprobe=8).select(
            "query_id", "corpus_id", "rank")

    def w5_top1_then_threshold(spark, sf):
        emb = _load(spark, sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 50)
        top1 = sim.cosine_topk(q, emb, k=1)
        return top1.filter(F.col("score") >= 0.25) \
            .select("query_id", "corpus_id")

    # -- KG pipeline (non-SQL-expressible: UDF embeddings, LSH, CC) ----
    def kg_triples(spark, sf):
        return _kg_world(spark, sf)["triples"] \
            .select("subj", "pred", "obj", "score")

    def kg_edges(spark, sf):
        out = _kg_world(spark, sf)["edges"]
        return out.select("src", "dst", "rel_type", "weight", "source")

    def kg_edges_incremental(spark, sf):
        # Neo4j-MERGE-shaped edge maintenance (edges.merge_edge_delta):
        # edges for a grown corpus = committed edges (from ~70% of
        # docs) MERGE the delta aggregated over ONLY the new docs'
        # linked rows — weight++, sorted evidence append, last-write
        # source. Must equal the full re-aggregation the oracle
        # replays (same SQL as kg_edges); evidence lists are compared
        # via their joined string so the merge itself is hash-checked.
        from fashion_knowledge_graph_spark.operators import (
            components as cc,
        )
        from fashion_knowledge_graph_spark.operators import edges as ed
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

    def kg_graph_diff(spark, sf):
        # KG evolution report: full outer join of the committed edge
        # set (edges aggregated over the ~70% "old" corpus, portable
        # md5 doc split) against the current full edge set, each edge
        # classified added / grown / unchanged with its weight delta —
        # the change audit a nightly KG rebuild publishes next to its
        # tables. Two partial-agg'd rollups + ONE (src,dst,rel_type)
        # join; nothing is re-read per class.
        from fashion_knowledge_graph_spark.operators import (
            components as cc,
        )
        from fashion_knowledge_graph_spark.operators import edges as ed
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
        from fashion_knowledge_graph_spark.operators.fusion import (
            truth_discovery,
        )
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

    def kg_rdb_direct_map(spark, sf):
        # W3C direct mapping: lift the relational dims into the triple
        # space (row IRI <table#pk>, literal triples per column,
        # ref- triples per FK). Pure projection + explode — one scan
        # per table, zero shuffles; money columns use an explicit
        # printf format so the literal form is engine-portable.
        from fashion_knowledge_graph_spark.operators.rdf import (
            direct_map,
        )
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

    def kg_pra_features(spark, sf):
        # Path-Ranking-Algorithm features for the edge candidate
        # pairs: per predicate, distinct shared attribute values
        # reachable as src -p-> v <-p- dst. Predicate slices filter
        # before any join; path joins are keyed (entity, value) with
        # taxonomy-bounded fan-out.
        from fashion_knowledge_graph_spark.operators.linkpred import (
            pra_path_features,
        )
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

    def kg_wl_colors(spark, sf):
        # Weisfeiler-Lehman color refinement (2 rounds) over the
        # canonical co-occurrence graph, seeded with entity types:
        # nodes share a final color only if their 2-hop neighborhood
        # trees agree — the structural blocking signature. Each round
        # is one node-keyed join + one degree-bounded aggregation.
        from fashion_knowledge_graph_spark.operators.graph import (
            wl_refine,
        )
        w = _kg_world(spark, sf)
        ty = (w["triples"].filter(F.col("pred") == "type")
              .groupBy(F.col("subj").cast("string").alias("id"))
              .agg(F.min(F.col("obj").cast("string")).alias("label")))
        out = wl_refine(w["edges"].select("src", "dst"), ty,
                        iterations=2)
        return out.select("id", F.col("label").alias("wl"))

    def kg_domain_range(spark, sf):
        # Schema induction: per predicate, the majority subject class
        # (domain) and majority object kind (entity ref vs literal)
        # with support — inferred RDFS domain/range axioms. One
        # broadcast of the type dimension; rollups keyed by predicate.
        from fashion_knowledge_graph_spark.operators.ontology import (
            domain_range_profile,
        )
        w = _kg_world(spark, sf)
        tri = (w["triples"]
               .select(F.col("subj").cast("string").alias("subj"),
                       "pred",
                       F.col("obj").cast("string").alias("obj")))
        return domain_range_profile(tri)

    def kg_node2vec_walks(spark, sf):
        # Second-order biased walk corpus (node2vec p/q split) over
        # the canonical co-occurrence graph: 3 steps, return penalty
        # 4x, out-of-neighborhood penalty 2x, chosen by exact
        # integer scaled-hash argmin — reproducible across engines
        # and partitionings; the oracle unrolls the steps.
        from fashion_knowledge_graph_spark.operators.graph import (
            node2vec_walks,
        )
        w = _kg_world(spark, sf)
        return node2vec_walks(w["edges"].select("src", "dst"),
                              steps=3, p_mult=4, q_mult=2)

    def kg_entity_summary(spark, sf):
        # Entity summarization (LinkSUM/FACES-lite): top-3 most
        # informative facts per entity, ranked by exact (pred, obj)
        # document frequency ascending — the integer-exact equivalent
        # of ln(N/df) descending. Fact-vocabulary-sized df agg +
        # bounded per-entity window.
        from fashion_knowledge_graph_spark.operators.ontology import (
            entity_summary,
        )
        w = _kg_world(spark, sf)
        tr = (w["triples"]
              .filter(F.col("subj").cast("string").startswith("p"))
              .select(F.col("subj").cast("string").alias("subj"),
                      "pred",
                      F.col("obj").cast("string").alias("obj")))
        return entity_summary(tr, k=3)

    def kg_attr_history(spark, sf):
        # Temporal KG: SCD2-style change intervals per (entity, pred)
        # reconstructed from per-day observations (deterministic md5
        # ingest day, same clock as kg_asof_state). Per-day state is
        # one max_by agg; change points and interval ends are lag/
        # lead windows partitioned (subj, pred) — bounded by the day
        # range, never corpus-wide.
        from pyspark.sql.window import Window
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

    def kg_rule_mining(spark, sf):
        # AMIE-style rule mining: support + standard/PCA confidence
        # for the propagation template p(x,v) & complements(x,y) =>
        # p(y,v), one row per attribute predicate. Exact integer
        # counts; confidences are single divisions at the end.
        from fashion_knowledge_graph_spark.operators.rules import (
            mine_propagation_rules,
        )
        w = _kg_world(spark, sf)
        tri = (w["triples"]
               .select(F.col("subj").cast("string").alias("subj"),
                       "pred",
                       F.col("obj").cast("string").alias("obj"))
               .distinct())
        return mine_propagation_rules(
            tri, "complements",
            ["hasColor", "hasMaterial", "hasStyle"])

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

    def kg_attr_association(spark, sf):
        # Cross-attribute association rules with lift ("black goes
        # with leather"): exact co-assertion counts over the entity-
        # keyed self-join, vocabulary-sized support tables broadcast
        # back, confidence/lift as single float divisions.
        from fashion_knowledge_graph_spark.operators.rules import (
            mine_value_associations,
        )
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

    def kg_source_reliability(spark, sf):
        # Provenance datasheet: per source bucket, claim count,
        # majority-consensus agreement and the quantized trust weight
        # — the audit row truth discovery consumes. Source-sized
        # output; claim stream aggregated once.
        from fashion_knowledge_graph_spark.operators.fusion import (
            source_reliability,
        )
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

    def kg_repair_suggestions(spark, sf):
        # Constraint repair, closing the SHACL→fusion loop: for every
        # functional-property violation (one entity asserting >1
        # value), the truth-discovery winner to KEEP and the sorted
        # set to DROP, with the fused confidence. Violation slots are
        # one rollup keyed (subj, pred); the repair join rides the
        # same key.
        from fashion_knowledge_graph_spark.operators.fusion import (
            truth_discovery,
        )
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

    def er_meta_blocking(spark, sf):
        # Meta-blocking over a redundancy-positive blocking collection
        # (three composite catalog keys): CBS pair weights, oversized
        # blocks purged at 50, WEP mean-weight pruning. The candidate
        # graph is block-size-bounded; the threshold is a 1-row
        # broadcast.
        from fashion_knowledge_graph_spark.operators.er import (
            meta_blocking,
        )
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

    def kg_linking_accuracy(spark, sf):
        # Entity-linking accuracy vs the interleave generator's
        # ground truth: each image span's media_ref encodes its true
        # entity key — a mention is linked correctly iff the matched
        # catalog product carries that entity_key. One span join on
        # (doc_id, span_idx) + one broadcast of the catalog key map;
        # exact counts, one division.
        from fashion_knowledge_graph_spark.operators.mentions import (
            explode_spans,
        )
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

    def kg_graphsage_sample(spark, sf):
        # GraphSAGE-style layered neighbor sampling (fanouts 3, 2)
        # over the canonical graph: deterministic md5-ranked
        # neighbor choice per (seed, node), degree-bounded window
        # partitions — the reproducible GNN minibatch prep.
        from fashion_knowledge_graph_spark.operators.graph import (
            neighbor_sample,
        )
        w = _kg_world(spark, sf)
        return neighbor_sample(w["edges"].select("src", "dst"),
                               fanouts=[3, 2])

    def kg_taxonomy_rollup(spark, sf):
        # Ontology rollup: entity counts aggregated UP the class
        # hierarchy — for each (pred, class incl. ancestors), how many
        # entities assert a value at or under it. The value→ancestor
        # map is the taxonomy closure ∪ identity, dimension-sized and
        # BROADCAST; the triple stream is map-joined once and the only
        # shuffle is the (pred, class) rollup.
        from fashion_knowledge_graph_spark.operators import (
            ontology as onto,
        )
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

    def kg_canonical(spark, sf):
        return _kg_world(spark, sf)["canonical"]

    def kg_canonical_incremental(spark, sf):
        # Incremental canonicalization — the maintenance path a
        # 10^12-row catalog actually runs: seed the mapping from ~70%
        # of the catalog, then fold the remaining items in via the
        # probe-restricted LSH pair join + CC over (old star edges ∪
        # new incident edges), never re-pairing existing items
        # (components.update_canonical_mapping). Must equal the
        # from-scratch mapping the oracle replays.
        from fashion_knowledge_graph_spark.operators import (
            components as cc,
        )
        from fashion_knowledge_graph_spark.operators import linking as lk
        catalog = _kg_world(spark, sf)["catalog"]
        part = catalog.filter(F.crc32("product_id") % 10 < 7)
        old = cc.canonical_mapping(part, lk.pack_catalog(part))
        return cc.update_canonical_mapping(catalog, old)

    def kg_complete_the_look(spark, sf):
        from fashion_knowledge_graph_spark.plans import queries as Q
        out = _kg_world(spark, sf)
        # deterministic seeds: first 20 edge sources by id (a bare
        # limit() without order is partition-order-dependent)
        seeds = out["edges"].select(
            F.col("src").alias("product_id")).distinct() \
            .orderBy("product_id").limit(20)
        return Q.complete_the_look(out["edges"], out["nodes"],
                                   selected=seeds, top_k=5) \
            .select("query_id", "rel_type", "product_id", "weight")

    def kg_2hop_recs(spark, sf):
        # 2-hop collaborative-filtering expansion: new items reachable
        # through a shared neighbor, direct neighbors excluded,
        # bottleneck-weight path scoring (plans/queries.py::
        # two_hop_recommend; oracle replays both hops + NOT EXISTS +
        # scoring in SQL over the materialized edges)
        from fashion_knowledge_graph_spark.plans import queries as Q
        out = _kg_world(spark, sf)
        seeds = out["edges"].select(
            F.col("src").alias("product_id")).distinct() \
            .orderBy("product_id").limit(20)
        return Q.two_hop_recommend(out["edges"], seeds, top_k=10)

    def kg_negative_samples(spark, sf):
        # TransE-style corruption over the KG's attribute + text
        # triples: one deterministic type-constrained negative per
        # distinct triple (md5-keyed skip-one index into the
        # predicate's own object vocabulary — hard negatives, never
        # cross-kind ones; plans/queries.py::negative_samples). The
        # triple stream is the only big pass; both vocab lookups
        # broadcast
        from fashion_knowledge_graph_spark.plans import queries as Q
        t = _kg_world(spark, sf)["triples"]
        return Q.negative_samples(t)

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

    def kg_taxonomy_closure(spark, sf):
        # Transitive closure of the taxonomy subClassOf DAG via
        # path-doubling self-joins (O(log depth) shuffle rounds —
        # the property that survives a deep ontology; the oracle
        # replays it as a recursive CTE). Dimension-sized input; the
        # operator also backs kg_rdfs_entailment's broadcast side.
        from fashion_knowledge_graph_spark.operators import (
            ontology as onto,
        )
        return onto.transitive_closure(onto.hierarchy_df(spark)) \
            .select("child", "parent",
                    F.col("depth").cast("int").alias("depth"))

    def kg_rdfs_entailment(spark, sf):
        # RDFS-style entailment over the triple stream: hasColor /
        # hasMaterial objects are classified by the taxonomy hierarchy
        # and every ancestor is emitted as an inferred
        # hasColorClass / hasMaterialClass triple. The closure is
        # taxonomy-sized and BROADCAST — the 10^12-row triple side is
        # map-joined once, never shuffled (operators/ontology.py)
        from fashion_knowledge_graph_spark.operators import (
            ontology as onto,
        )
        t = (_kg_world(spark, sf)["triples"]
             .select(F.col("subj").cast("string").alias("subj"),
                     "pred",
                     F.col("obj").cast("string").alias("obj")))
        cl = onto.transitive_closure(onto.hierarchy_df(spark))
        return onto.entail_ancestors(t, cl)

    def kg_shacl_report(spark, sf):
        # SHACL-lite shape validation over the KG triples: per shaped
        # predicate — distinct triples, subjects, functional-property
        # violations (>1 object where the vocabulary says scalar:
        # doc-subject text mentions legitimately trip this, canonical
        # merges can too) and closed-range violations. Two
        # partial-agg'd shuffles of (pred,subj) cardinality; ranges
        # ride broadcast joins (operators/ontology.py::shacl_report)
        from fashion_knowledge_graph_spark.operators import (
            ontology as onto,
        )
        t = (_kg_world(spark, sf)["triples"]
             .select(F.col("subj").cast("string").alias("subj"),
                     "pred",
                     F.col("obj").cast("string").alias("obj")))
        return onto.shacl_report(t, onto.kg_shapes())

    def kg_symmetric_closure(spark, sf):
        # Symmetric completion of `complements`: the reference writes
        # both directions imperatively (process_social_media_images
        # .py:135-146); the batch engine stores canonical sorted pairs
        # and derives the inverses relationally — one anti-join on the
        # pair key, no full-table state
        from fashion_knowledge_graph_spark.operators import (
            ontology as onto,
        )
        ed = _kg_world(spark, sf)["edges"] \
            .select(F.col("src").alias("subj"),
                    F.col("dst").alias("obj"))
        return onto.symmetric_closure(ed)

    def kg_bgp_query(spark, sf):
        # SPARQL-style basic-graph-pattern over the triple table,
        # compiled (not hand-written) by operators/bgp.py: complement
        # pairs sharing a style, with the first item's gender OPTIONAL
        # — constants pushed into each arm before any join, greedy
        # most-selective-first join order, left join for OPTIONAL
        from fashion_knowledge_graph_spark.operators import bgp
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

    def kg_property_path(spark, sf):
        # SPARQL property path `complements+` bounded at 3 hops:
        # frontier BFS (per-round work proportional to NEW pairs —
        # the data-scale shape; the dimension-scale doubling closure
        # is deliberately not used here, see operators/bgp.py::
        # property_path). Oracle replays it as a depth-bounded
        # recursive CTE
        from fashion_knowledge_graph_spark.operators import bgp
        t = (_kg_world(spark, sf)["triples"]
             .select(F.col("subj").cast("string").alias("subj"),
                     "pred",
                     F.col("obj").cast("string").alias("obj")))
        return bgp.bgp_query(t, [("?x", "complements+", "?y")],
                             path_hops=3) \
            .select(F.col("x").alias("subj"), F.col("y").alias("obj"))

    def kg_path_expr(spark, sf):
        # SPARQL 1.1 path EXPRESSION ^(hasColor|hasMaterial)/complements
        # through the BGP compiler: inverse + alternation compile to
        # ONE union of two swapped predicate-pushed scans, the
        # sequence step to one equi-join on the intermediate item —
        # for every attribute value, what the items carrying it
        # complement. Oracle replays it as the join of the two
        # relational forms.
        from fashion_knowledge_graph_spark.operators import bgp
        t = (_kg_world(spark, sf)["triples"]
             .select(F.col("subj").cast("string").alias("subj"),
                     "pred",
                     F.col("obj").cast("string").alias("obj")))
        return bgp.bgp_query(
            t, [("?v", "^(hasColor|hasMaterial)/complements", "?y")]) \
            .select(F.col("v").alias("val"), F.col("y").alias("comp"))

    def kg_path_negset(spark, sf):
        # SPARQL negated property set !(type|complements): one hop via
        # any OTHER predicate — compiles to a single anti-filtered
        # triple scan (NOT pred IN (...) pushes down like the positive
        # form), here joined with a plain type pattern so only item
        # subjects survive
        from fashion_knowledge_graph_spark.operators import bgp
        t = (_kg_world(spark, sf)["triples"]
             .select(F.col("subj").cast("string").alias("subj"),
                     "pred",
                     F.col("obj").cast("string").alias("obj")))
        return bgp.bgp_query(t, [("?x", "!(type|complements)", "?v"),
                                 ("?x", "type", "?t")]) \
            .select(F.col("x").alias("item"), F.col("v").alias("val"),
                    F.col("t").alias("item_type"))

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

    def kg_bgp_negation(spark, sf):
        # FILTER NOT EXISTS through the BGP compiler: items that
        # complement something and whose style set lacks 'formal' —
        # the negated arm anti-joins on the shared variable
        from fashion_knowledge_graph_spark.operators import bgp
        t = (_kg_world(spark, sf)["triples"]
             .select(F.col("subj").cast("string").alias("subj"),
                     "pred",
                     F.col("obj").cast("string").alias("obj")))
        return bgp.bgp_query(
            t,
            [("?x", "complements", "?y"), ("?x", "type", "?t")],
            negations=[("?x", "hasStyle", "formal")]) \
            .select("x", "t").distinct()

    def kg_bgp_aggregate(spark, sf):
        # SPARQL GROUP BY / HAVING through the BGP compiler: per
        # style, the number of complement pairs sharing it and the
        # distinct first items — one hash aggregation (map-side
        # partial) over the compiled pattern's solution set
        from fashion_knowledge_graph_spark.operators import bgp
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

    def kg_bgp_topk(spark, sf):
        # SPARQL ORDER BY ... LIMIT over a grouped BGP: top-3 styles
        # by complement-pair count (style tiebreak makes the order
        # total). Compiles to TakeOrderedAndProject — per-partition
        # k-row heaps, never a global sort (test_bgp pins the plan)
        from fashion_knowledge_graph_spark.operators import bgp
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

    def kg_bgp_values(spark, sf):
        # SPARQL VALUES: seed the pattern with an inline (style,
        # color) relation — multi-variable blocks join as an
        # explicitly-broadcast literal table; single-variable blocks
        # become isin predicates pushed into the arm scans
        # (test_bgp pins PushedFilters: In)
        from fashion_knowledge_graph_spark.operators import bgp
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

    def kg_negative_samples(spark, sf):
        # Link-prediction training negatives (operators/linkpred.py):
        # 2 corrupted-tail draws per distinct attribute triple, drawn
        # from the closed taxonomy vocabulary via the portable 60-bit
        # md5 hash — vocab ships as a literal map (no join), the only
        # exchange is the filtered-negative anti-join; the oracle
        # replays every draw bit-for-bit
        from fashion_knowledge_graph_spark import taxonomy as ktx
        from fashion_knowledge_graph_spark.operators.linkpred import (
            negative_samples,
        )
        t = (_kg_world(spark, sf)["triples"]
             .select(F.col("subj").cast("string").alias("subj"),
                     "pred",
                     F.col("obj").cast("string").alias("obj")))
        return negative_samples(
            t, {"hasColor": ktx.COLORS, "hasMaterial": ktx.MATERIALS,
                "hasStyle": ktx.STYLES}, k=2)

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
        from fashion_knowledge_graph_spark.operators.linkpred import (
            transe_entity_ranking,
        )
        t = _kg_world(spark, sf)["triples"]
        return transe_entity_ranking(t, dim=8)

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
        from fashion_knowledge_graph_spark.operators.linkpred import (
            transe_sampled_ranking,
        )
        t = _kg_world(spark, sf)["triples"]
        return transe_sampled_ranking(t, k=20, dim=8)

    def kg_open_ie_link(spark, sf):
        # Ground span instances to catalog entities: (type, color)
        # equi-join candidates, material/style-overlap scoring in the
        # join projection, deterministic top-1 per instance
        # (operators/attributes.py::link_open_ie — the relational twin
        # of the reference's metadata-filtered vector queries)
        from fashion_knowledge_graph_spark.operators.attributes import (
            link_open_ie,
            open_ie_triples,
        )
        world = _kg_world(spark, sf)
        docs = spark.read.parquet(_kg_paths(sf)["ie_docs"])
        return link_open_ie(open_ie_triples(docs), world["catalog"])

    def kg_forward_chain(spark, sf):
        # Datalog-lite forward chaining (operators/rules.py): the KG
        # triples plus the taxonomy hierarchy as subClassOf triples,
        # closed under four rules — subClassOf transitivity, color and
        # material class typing, and complements symmetry. The oracle
        # replays the fixpoint in closed form (recursive-CTE closure +
        # one arm per rule head), so the engine's convergence itself
        # is hash-checked
        from fashion_knowledge_graph_spark import taxonomy as ktx
        from fashion_knowledge_graph_spark.operators.rules import (
            forward_chain,
        )
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

    def kg_open_ie(spark, sf):
        # Span-level open IE: each text span that names exactly one
        # garment type becomes a content-addressed item instance
        # (doc_id:md5(text)); its color/material/style hits attach to
        # the instance, not the doc (operators/attributes.py::
        # open_ie_triples — zero-shuffle lexicon scan + one gate agg)
        from fashion_knowledge_graph_spark.operators.attributes import (
            open_ie_triples,
        )
        _kg_world(spark, sf)
        docs = spark.read.parquet(_kg_paths(sf)["ie_docs"])
        return open_ie_triples(docs)

    def kg_motif_wedge(spark, sf):
        # GraphFrames-style motif query over the KG edge table: open
        # wedges "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)" on the
        # symmetrized strong edges (weight ≥ 2) — the co-occurrence
        # frontier a recommender expands into, found by the motif
        # COMPILER (operators/motif.py), not a hand-written join;
        # a < c dedups the two symmetric bindings of each wedge
        from fashion_knowledge_graph_spark.operators.motif import (
            motif_find,
        )
        ed = _kg_world(spark, sf)["edges"] \
            .filter(F.col("weight") >= 2).select("src", "dst")
        sym = ed.unionByName(ed.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
        return (motif_find(
            sym, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
            .filter((F.col("a") < F.col("c")))
            .select("a", "b", "c"))

    def kg_mention_gates(spark, sf):
        # P3/P5/P6/P8 + W1 relationally, over the materialized PRE-gate
        # segmentation rows — the last un-oracled reference semantics
        # (the fused kernel applies these gates internally; reference
        # image_processor.py:113-142). The oracle replays the same
        # predicates + top-1-by-area in SQL.
        from fashion_knowledge_graph_spark.operators import mentions as mo
        _kg_world(spark, sf)
        pre = spark.read.parquet(_kg_paths(sf)["pregate"])
        return mo.mention_gates(pre)

    def kg_ctl_filtered(spark, sf):
        # P11 dynamic attribute filters: complete_the_look with a
        # `filters={"color": ...}` equality predicate (reference
        # f-string Cypher WHERE, graph_database.py:296) applied to the
        # related nodes BEFORE the per-rel top-k.
        from fashion_knowledge_graph_spark.plans import queries as Q
        out = _kg_world(spark, sf)
        seeds = out["edges"].select(
            F.col("src").alias("product_id")).distinct() \
            .orderBy("product_id").limit(40)
        return Q.complete_the_look(out["edges"], out["nodes"],
                                   selected=seeds, top_k=5,
                                   filters={"color": "black"}) \
            .select("query_id", "rel_type", "product_id", "weight", "color")

    def kg_lineage_metrics(spark, sf):
        # A9: per-stage lineage totals. The oracle recomputes each
        # table's true size from first principles (SQL over the
        # materialized inputs), so a lineage count that drifts from
        # the actual data fails the hash. Per-partition granularity is
        # parallelism-dependent and pinned by tests instead.
        from fashion_knowledge_graph_spark.sources.tables import (
            metrics_totals_df,
        )
        _kg_world(spark, sf)
        return metrics_totals_df(spark, _KG_CACHE[sf]["__pipe"].tables)

    def kg_outfit_from_text(spark, sf):
        from fashion_knowledge_graph_spark.plans import queries as Q
        out = _kg_world(spark, sf)
        # query texts drawn from catalog style descriptions so both
        # RRF paths return hits: the style path scores 1.0 on the
        # exact description, the CLIP path retrieves attribute-matching
        # items (round 1 used arbitrary text → 0 rows, vacuous check)
        qt = _kg_query_texts(spark, sf)
        r = Q.outfit_from_text(qt, out["catalog"], top_k=5)
        return r.select("query_id", "product_id",
                        F.round("rrf_score", 6).alias("rrf_score"))

    def kg_outfit_from_image(spark, sf):
        # The §3.3 image entry point END TO END (reference
        # src/inference/recommender.py:204-325): query media docs →
        # segment → embed → link against the catalog with the
        # metadata filters + top-1-then-threshold gate at 0.7. The
        # oracle replays the linking join in SQL over the
        # materialized query-mention embeddings; segmentation +
        # embedding are the deterministic stand-ins, identical on
        # both sides by construction.
        from fashion_knowledge_graph_spark.plans import queries as Q
        out = _kg_world(spark, sf)
        qdocs = spark.read.parquet(_kg_paths(sf)["qdocs"])
        r = Q.outfit_from_image(qdocs, out["catalog"], threshold=0.7)
        return r.select("doc_id", "span_idx", "product_id", "category",
                        F.round("score", 6).alias("score"))

    def attribution_position(spark, sf):
        # U-shaped multi-touch attribution (40/20/40): each purchase
        # splits 1.0 of credit across its prior views — first and
        # last touch 0.4 each, middles share 0.2; the relational form
        # shuffles ONCE on user_id and the rank window reuses that
        # partitioning (operators/temporal.py::position_attribution)
        from fashion_knowledge_graph_spark.operators.temporal import (
            position_attribution,
        )
        return position_attribution(_load(spark, sf, "events"))

    def events_session_window(spark, sf):
        # Spark's native dynamic-gap session windows in BATCH mode
        # (F.session_window, 10-min gap): per-user sessions merge
        # while events arrive within the gap — the built-in operator
        # surface next to the applyInPandasWithState streaming
        # sessionizer; bounds exported as epoch-µs BIGINTs, value
        # summed as DECIMAL (order-free)
        ev = _load(spark, sf, "events")
        return (ev.groupBy(
            "user_id",
            F.session_window(F.col("ts"), "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,6)"))
                 .cast("double").alias("total_value"))
            .select("user_id",
                    F.unix_micros(F.col("w.start").cast("timestamp"))
                    .alias("start_us"),
                    F.unix_micros(F.col("w.end").cast("timestamp"))
                    .alias("end_us"),
                    "n_events",
                    F.round("total_value", 4).alias("total_value")))

    def text_chunking(spark, sf):
        # RAG-ingestion chunking: 32-token windows, 8-token overlap,
        # reassembled at whitespace boundaries — pure codegen array
        # expressions, zero shuffles, chunks at scan speed
        # (functions/text.py::chunk_documents)
        from fashion_knowledge_graph_spark.functions.text import (
            chunk_documents,
        )
        docs = _load(spark, sf, "documents") \
            .filter(F.col("doc_id") < 1000)
        return chunk_documents(docs, chunk_tokens=32,
                               overlap_tokens=8) \
            .select(F.col("id").alias("doc_id"), "chunk_idx",
                    "n_tokens", "chunk_text")

    def text_pii_redact(spark, sf):
        # deterministic PII injection (the synthetic corpus carries
        # none): every 3rd doc gains an email+URL, every 5th a phone —
        # replayed identically in the oracle, so the scan/redact
        # logic is exercised non-vacuously
        docs = _load(spark, sf, "documents")
        aug = F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" contact user"),
                     F.col("doc_id").cast("string"),
                     F.lit("@example.com via https://shop.example.com/i/"),
                     F.col("doc_id").cast("string"))
        ).when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" call (555) 010-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"),
                            4, "0"))
        ).otherwise(F.col("text"))
        pc = tx.pii_counts(aug)
        return docs.select(
            "doc_id",
            pc["email"].alias("n_email"), pc["phone"].alias("n_phone"),
            pc["url"].alias("n_url"), pc["ip"].alias("n_ip"),
            tx.redact_pii(aug).alias("redacted"))

    def text_repetition(spark, sf):
        return dd.ngram_repetition_stats(_load(spark, sf, "documents"),
                                         n=2)

    def tfidf_top_terms(spark, sf):
        return tx.tfidf_top_terms(_load(spark, sf, "documents"), k=3)

    def j_salted_skew_join(spark, sf):
        # explicit skew handling on a maximally hot key (l_returnflag
        # has 3 values — every key is a head key): the salted
        # broadcast join spreads each hot key over n_salt tasks; the
        # result is identical to the plain join, which is exactly
        # what the oracle replays
        from fashion_knowledge_graph_spark.operators.skew import (
            salted_broadcast_join,
        )
        li = _load(spark, sf, "lineitem")
        dim = li.groupBy("l_returnflag").agg(
            F.round(F.avg("l_discount"), 6).alias("flag_avg_disc"))
        big = li.select("l_orderkey", "l_partkey", "l_returnflag",
                        F.round("l_extendedprice", 2).alias("price"))
        return salted_broadcast_join(big, dim, ["l_returnflag"],
                                     n_salt=8)

    def f_variant_extract(spark, sf):
        # Spark 4 VariantType roundtrip: build nested JSON from row
        # values, parse to VARIANT (the open-schema binary encoding
        # for semi-structured columns at scale — no schema inference
        # pass, per-path typed access), extract typed paths. The
        # oracle checks roundtrip identity: extracted values must
        # equal the originals exactly.
        o = _load(spark, sf, "orders")
        js = F.to_json(F.struct(
            F.col("o_orderkey").alias("k"),
            F.struct(F.col("o_orderstatus").alias("s"),
                     F.round("o_totalprice", 2).alias("p")).alias("d"),
            F.array("o_custkey", "o_orderkey").alias("a")))
        v = F.parse_json(js)
        return o.select(
            "o_orderkey",
            F.variant_get(v, "$.d.s", "string").alias("status"),
            F.variant_get(v, "$.d.p", "double").alias("price"),
            F.variant_get(v, "$.a[1]", "bigint").alias("second_elem"))

    def a_pivot_event_matrix(spark, sf):
        # relational pivot: one row per user, one count column per
        # event type. The explicit value list keeps the plan a single
        # pass (no distinct-values pre-job) — at 100 TB an open-ended
        # pivot would need that extra scan
        kinds = ["click", "error", "purchase", "signup", "view"]
        ev = _load(spark, sf, "events")
        return (ev.groupBy("user_id").pivot("event_type", kinds)
                .agg(F.count(F.lit(1))).na.fill(0, kinds))

    def a_percentiles(spark, sf):
        # EXACT interpolated percentiles (Spark `percentile` ≡ DuckDB
        # `quantile_cont`, parity-verified); the approx_percentile
        # t-digest path is the 100 TB variant of the same plan shape
        li = _load(spark, sf, "lineitem")
        p = F.expr(
            "percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))")
        return li.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(p[0], 6).alias("p25"), F.round(p[1], 6).alias("p50"),
            F.round(p[2], 6).alias("p75"), F.round(p[3], 6).alias("p95"))

    def a_cube_rollup(spark, sf):
        # grouping-sets aggregation: every (priority × status) combo
        # plus both partials and the grand total in ONE pass; DECIMAL
        # accumulation keeps the sums order-independent
        o = _load(spark, sf, "orders")
        return (o.cube("o_orderpriority", "o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(
                         F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                         .cast("double"), 2).alias("revenue")))

    def w_running_analytics(spark, sf):
        # per-customer running spend + previous-order delta: frame-
        # based window aggs (cumulative sum, lag) with a fully
        # deterministic (date, orderkey) ordering
        from pyspark.sql import Window
        o = _load(spark, sf, "orders")
        w = Window.partitionBy("o_custkey") \
            .orderBy("o_orderdate", "o_orderkey")
        price = F.col("o_totalprice").cast("decimal(18,2)")
        return o.select(
            "o_custkey", "o_orderkey",
            F.round(F.sum(price).over(
                w.rowsBetween(Window.unboundedPreceding, 0))
                .cast("double"), 2).alias("running_spend"),
            F.round((price - F.lag(price, 1).over(w)).cast("double"), 2)
            .alias("delta_vs_prev"),
            F.row_number().over(w).alias("order_seq"))

    def kmeans_clusters(spark, sf):
        from fashion_knowledge_graph_spark.operators.clustering import (
            kmeans_assign,
        )
        return kmeans_assign(_load(spark, sf, "embeddings"),
                             k=8, iterations=2)

    def graph_lpa_communities(spark, sf):
        # synchronous weighted label propagation (3 rounds) over the
        # co-purchase graph — deterministic max-weight/min-label
        # adoption, unrolled-CTE oracle (communities, not components)
        from fashion_knowledge_graph_spark.operators.graph import (
            label_propagation,
        )
        und = j6_cooccurrence_edges(spark, sf)
        e = und.select("src", "dst", "weight").unionByName(
            und.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"), "weight"))
        return label_propagation(e, weight="weight", rounds=3)

    def graph_pagerank(spark, sf):
        from fashion_knowledge_graph_spark.operators.graph import pagerank
        und = j6_cooccurrence_edges(spark, sf)
        e = und.select("src", "dst", "weight").unionByName(
            und.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"), "weight"))
        pr = pagerank(e, weight="weight", iterations=3, damping=0.85)
        return pr.select("node", F.round("rank", 6).alias("rank"))

    def graph_link_prediction(spark, sf):
        # Adamic-Adar link prediction over the co-purchase graph:
        # predicted (not-yet-connected) pairs scored by degree-damped
        # common neighbors — one wedge join + anti-join vs edges
        from fashion_knowledge_graph_spark.operators.graph import (
            link_prediction,
        )
        und = j6_cooccurrence_edges(spark, sf)
        return link_prediction(und)

    def graph_jaccard_similarity(spark, sf):
        # item-item neighborhood Jaccard over the co-purchase graph
        # (collaborative-filtering similarity, connected pairs
        # included — the complement of graph_link_prediction's
        # anti-join): one wedge join + two degree joins, union size
        # derived as deg_a + deg_b − common (operators/graph.py)
        from fashion_knowledge_graph_spark.operators.graph import (
            neighbor_jaccard,
        )
        und = j6_cooccurrence_edges(spark, sf)
        return neighbor_jaccard(und, min_common=2)

    def graph_walk_corpus(spark, sf):
        # DeepWalk-style training-corpus generation: 1 deterministic
        # (md5 arg-min) 3-hop walk per node over the co-purchase
        # graph — reproducible skip-gram input, unrolled arg-min CTE
        # oracle (operators/graph.py::deterministic_walks)
        from fashion_knowledge_graph_spark.operators.graph import (
            deterministic_walks,
        )
        und = j6_cooccurrence_edges(spark, sf)
        return deterministic_walks(und, steps=3, walks_per_node=1)

    def graph_skipgram_pairs(spark, sf):
        # skip-gram (center, context) training pairs from the walk
        # corpus, window ±2 — the word2vec-over-walks input table
        # (DeepWalk's second half). One self-join per walk_id (walks
        # are 4 rows each: bounded fan-out, no skew), aggregated to
        # (center, context, pair_count)
        from fashion_knowledge_graph_spark.operators.graph import (
            deterministic_walks,
        )
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

    def graph_ppr_recs(spark, sf):
        # personalized PageRank (random-walk-with-restart) from the 5
        # smallest co-purchased products — rank = proximity to the
        # seed basket, the classic graph recommender; same unrolled
        # 3-iteration contract as graph_pagerank, teleport CASE oracle
        from fashion_knowledge_graph_spark.operators.graph import pagerank
        und = j6_cooccurrence_edges(spark, sf)
        e = und.select("src", "dst", "weight").unionByName(
            und.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"), "weight"))
        seeds = und.select(F.col("src").alias("node")).distinct() \
            .orderBy("node").limit(5)
        pr = pagerank(e, weight="weight", iterations=3, damping=0.85,
                      seeds=seeds)
        return pr.select("node", F.round("rank", 9).alias("rank"))

    def graph_clustering_coeff(spark, sf):
        # local clustering coefficient over the co-purchase graph:
        # triangle counts (degree-ordered orientation, O(m^1.5) wedge
        # bound) joined to true degrees; deg≥2 nodes with zero
        # triangles kept at coeff 0 via left join — the integer-
        # derived divide replays bit-exactly
        # (operators/graph.py::clustering_coefficient)
        from fashion_knowledge_graph_spark.operators.graph import (
            clustering_coefficient,
        )
        und = j6_cooccurrence_edges(spark, sf)
        return clustering_coefficient(und)

    def graph_sssp_weighted(spark, sf):
        # fixed-round multi-source Bellman-Ford (min-plus relaxation)
        # from the 5 smallest products over the symmetrized
        # co-purchase graph; INTEGER weights keep every path total an
        # exact BIGINT, unrolled-CTE oracle
        # (operators/graph.py::shortest_paths)
        from fashion_knowledge_graph_spark.operators.graph import (
            shortest_paths,
        )
        und = j6_cooccurrence_edges(spark, sf)
        e = und.select("src", "dst", "weight").unionByName(
            und.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"), "weight"))
        seeds = und.select(F.col("src").alias("node")).distinct() \
            .orderBy("node").limit(5)
        return shortest_paths(e, seeds, rounds=3, weight="weight")

    def graph_hits_bipartite(spark, sf):
        # HITS hubs/authorities (Kleinberg) over the DIRECTED
        # supplier→part supply graph — ids prefixed ('s…'/'p…') to
        # keep the two key spaces disjoint; 2 L1-normalized
        # iterations, unrolled-CTE oracle (operators/graph.py::hits)
        from fashion_knowledge_graph_spark.operators.graph import hits
        li = _load(spark, sf, "lineitem")
        e = li.select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("dst")) \
            .distinct()
        h = hits(e, iterations=2)
        return h.select("node", F.round("hub", 6).alias("hub"),
                        F.round("authority", 6).alias("authority"))

    def sketch_kmv_distinct(spark, sf):
        # KMV (k-minimum-values) distinct-cardinality sketch per
        # (returnflag, status): estimate (k−1)·2^60/h_(k) on the
        # portable 60-bit md5 lane, exact count alongside so the
        # estimation error is visible; groups under k distinct stay
        # exact (operators/sketches.py::kmv_distinct)
        from fashion_knowledge_graph_spark.operators.sketches import (
            kmv_distinct,
        )
        return kmv_distinct(_load(spark, sf, "lineitem"),
                            ["l_returnflag", "l_linestatus"],
                            "l_partkey", k=64)

    def sketch_cms_bigrams(spark, sf):
        # count-min frequency sketch over token BIGRAMS (≈vocab²
        # terms vs width 256 → real collisions): the d×w bucket
        # table is the ENTIRE shuffle — constant-size regardless of
        # vocabulary; exact counts ride along to expose the
        # overestimate (operators/sketches.py::cms_term_counts)
        from fashion_knowledge_graph_spark.operators.sketches import (
            cms_term_counts,
        )
        from pyspark.sql import Window
        docs = _load(spark, sf, "documents") \
            .filter(F.col("text").isNotNull())
        toks = docs.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "tok")) \
            .filter(F.col("tok") != "")
        w = Window.partitionBy("doc_id").orderBy("pos")
        bigrams = (toks
                   .select("tok", F.lead("tok", 1).over(w).alias("nxt"))
                   .filter(F.col("nxt").isNotNull())
                   .select(F.concat_ws(" ", "tok", "nxt").alias("term")))
        return cms_term_counts(bigrams, depth=4, width=256)

    def domain_mix_temperature(spark, sf):
        # α=0.7 temperature-scaled sampling weights per source (the
        # mBERT/XLM-R tail-upsampling recipe) + expected draws for a
        # 10k budget — one partial-agg pass over the corpus, then
        # dim-sized arithmetic (operators/sampling.py::
        # temperature_weights)
        from fashion_knowledge_graph_spark.operators.sampling import (
            temperature_weights,
        )
        docs = _load(spark, sf, "documents")
        t = temperature_weights(docs, "source", alpha=0.7, budget=10000)
        return t.select("source", "n_docs",
                        F.round("weight", 6).alias("weight"),
                        "expected_docs")

    def emb_pca_project(spark, sf):
        # distributed PCA: covariance from ONE mapInArrow moment
        # pass (d²+d+1 doubles per partition — treeAggregate shape,
        # no vector ever shuffles), driver-side power iteration on
        # the d×d matrix, second map pass projects (x−μ)·v; the
        # oracle replays covariance + 3 normalize-multiply rounds
        # relationally (operators/clustering.py::pca_project)
        from fashion_knowledge_graph_spark.operators.clustering import (
            pca_project,
        )
        return pca_project(_load(spark, sf, "embeddings"),
                           "vec_id", "embedding", iterations=3)

    def events_markov_transitions(spark, sf):
        # first-order Markov transition matrix over per-user event
        # sequences: one lead window on the engine-wide (ts,
        # event_id) total order + row-normalized counts — the
        # next-action sequence-model feature
        # (operators/temporal.py::markov_transitions)
        from fashion_knowledge_graph_spark.operators.temporal import (
            markov_transitions,
        )
        t = markov_transitions(_load(spark, sf, "events"))
        return t.select("from_state", "to_state", "n",
                        F.round("p", 6).alias("p"))

    def text_char_entropy(spark, sf):
        # per-doc character Shannon entropy (bits) — the degenerate-
        # text detector (padding/base64/mojibake) complementing the
        # ratio-rule quality gate; explode + two partial-agg'd
        # groupBys, pure codegen (functions/text.py::char_entropy)
        from fashion_knowledge_graph_spark.functions.text import (
            char_entropy,
        )
        docs = _load(spark, sf, "documents") \
            .filter(F.col("text").isNotNull())
        return char_entropy(docs)

    def sketch_histogram_quantiles(spark, sf):
        # mergeable fixed-range histogram quantile sketch: 128 cells
        # per group IS the whole shuffle, estimates = first bin whose
        # cumulative count reaches ceil(q·n); exact interpolated
        # percentiles ride along to expose the error
        # (operators/sketches.py::histogram_quantiles)
        from fashion_knowledge_graph_spark.operators.sketches import (
            histogram_quantiles,
        )
        return histogram_quantiles(
            _load(spark, sf, "lineitem"), ["l_returnflag"],
            "l_extendedprice", lo=0.0, hi=110000.0, bins=128,
            quantiles=(0.5, 0.95))

    def events_time_decay(spark, sf):
        # exponentially time-decayed engagement per user (0.95/day
        # against a FIXED reference date — reproducible feature
        # snapshots, never now()): pure codegen projection + one
        # partial-agg'd groupBy
        # (operators/temporal.py::time_decay_agg)
        from fashion_knowledge_graph_spark.operators.temporal import (
            time_decay_agg,
        )
        return time_decay_agg(_load(spark, sf, "events"))

    def ann_pq_adc_topk(spark, sf):
        # product quantization (FAISS PQ core): 4 per-subspace Lloyd
        # codebooks (deterministic first-k init, 1 update) trained in
        # ONE mapInArrow pass per iteration, vectors encoded to 4
        # small ints, then asymmetric-distance top-10 per query via
        # per-query (m×k) lookup tables — O(m) gathers per item over
        # codes instead of O(d) float math; ranking by ROUNDED
        # distance + id tie-break for engine-order reproducibility
        # (operators/quantize.py::pq_train/pq_encode/pq_adc_topk)
        from fashion_knowledge_graph_spark.operators.quantize import (
            pq_adc_topk, pq_encode, pq_train,
        )
        emb = _load(spark, sf, "embeddings")
        books = pq_train(emb, m=4, k=16, iterations=1)
        codes = pq_encode(emb, books)
        queries = [(r["vec_id"], list(r["embedding"]))
                   for r in emb.orderBy("vec_id").limit(5).collect()]
        return pq_adc_topk(codes, books, queries, topk=10)

    def ann_ivfpq_topk(spark, sf):
        # IVF-PQ (the FAISS IVFx,PQy architecture) by composition:
        # coarse quantizer = pq_train with m=1, inverted-list
        # assignment = pq_encode with it, nprobe=2 probed lists per
        # query broadcast-join the (cluster, codes) corpus, ADC ranks
        # inside — candidates cut ~nprobe/ncoarse BEFORE any distance
        # math (operators/quantize.py::ivfpq_topk)
        from fashion_knowledge_graph_spark.operators.quantize import (
            ivfpq_topk,
        )
        emb = _load(spark, sf, "embeddings")
        queries = [(r["vec_id"], list(r["embedding"]))
                   for r in emb.orderBy("vec_id").limit(5).collect()]
        return ivfpq_topk(emb, queries, ncoarse=8, nprobe=2, m=4,
                          k=16, iterations=1, topk=10)

    def j_null_safe_join(spark, sf):
        # null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
        # keys MATCH each other instead of vanishing — the semantics
        # plain '=' silently drops; nullif() manufactures a
        # deterministic NULL stratum from a real column
        o = _load(spark, sf, "orders").select(
            F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("k"))
        dim = spark.createDataFrame(
            [("F", "finished"), ("P", "pending"), (None, "open")],
            "k string, label string")
        return (o.join(dim, o["k"].eqNullSafe(dim["k"]))
                .groupBy("label")
                .agg(F.count(F.lit(1)).alias("n_orders")))

    def u_except_intersect(spark, sf):
        # EXCEPT / INTERSECT set operations (2.F completeness beyond
        # u1's UNION): ship modes that never appear as return flags,
        # plus the overlap, tagged in one result
        o = _load(spark, sf, "orders")
        li = _load(spark, sf, "lineitem")
        modes = o.select(F.col("o_orderstatus").alias("v")).distinct()
        flags = li.select(F.col("l_linestatus").alias("v")).distinct()
        ex = modes.exceptAll(flags).select(
            "v", F.lit("except").alias("op"))
        inter = modes.intersect(flags).select(
            "v", F.lit("intersect").alias("op"))
        return ex.unionByName(inter)

    def emb_dim_profile(spark, sf):
        # embedding-health diagnostic: per-dimension mean/variance
        # (collapsed or exploded dims are the classic silent encoder
        # failure); posexplode → one partial-agg'd groupBy on dim —
        # n + Σx + Σx² exact-form moments, divides at the end only
        emb = _load(spark, sf, "embeddings")
        el = emb.select(F.posexplode("embedding").alias("dim", "x")) \
            .select("dim", F.col("x").cast("double").alias("x"))
        return (el.groupBy("dim")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.sum("x") / F.count(F.lit(1)), 6)
                     .alias("mean"),
                     F.round(F.sum(F.col("x") * F.col("x"))
                             / F.count(F.lit(1))
                             - (F.sum("x") / F.count(F.lit(1))) ** 2,
                             6).alias("variance")))

    def w_trailing_range_frame(spark, sf):
        # RANGE-framed window (the interval-frame shape ROWS frames
        # can't express): per user, trailing-3-day sum/count of value
        # at every event — frame bounds in integer MICROSECONDS over
        # unix_micros(ts) so both engines use the identical total
        # order and boundary arithmetic
        from pyspark.sql import Window
        ev = _load(spark, sf, "events")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        w = Window.partitionBy("user_id").orderBy(us.cast("long")) \
            .rangeBetween(-3 * 86400 * 1_000_000, 0)
        return ev.select(
            "event_id", "user_id",
            F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                    .over(w), 4).cast("double").alias("trail_value"),
            F.count(F.lit(1)).over(w).alias("trail_n"))

    def dedup_cluster_stats(spark, sf):
        # corpus datasheet: duplicate-cluster size distribution +
        # retention after survivor resolution — the governance number
        # a 10^12-doc dedup run reports; pure composition over the
        # dedup_clusters resolution (min-survivor per group)
        base = dedup_clusters(spark, sf)
        sizes = base.groupBy("keep_id").agg(
            F.count(F.lit(1)).alias("cluster_size"))
        return (sizes.groupBy("cluster_size")
                .agg(F.count(F.lit(1)).alias("n_clusters"),
                     F.sum("cluster_size").alias("n_docs")))

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

    def sketch_kmv_overlap(spark, sf):
        # KMV sketch ALGEBRA: pairwise audience overlap between event
        # types — union sketch = k smallest of the two merged
        # sketches, intersection by inclusion–exclusion; per-pair
        # cost is O(k log k) on two k-row summaries, never a
        # |A|×|B| join; exact intersection rides along for error
        # visibility (operators/sketches.py::kmv_overlap)
        from fashion_knowledge_graph_spark.operators.sketches import (
            kmv_overlap,
        )
        return kmv_overlap(_load(spark, sf, "events"),
                           "event_type", "user_id", k=64)

    def events_date_spine_gaps(spark, sf):
        # date-spine anti-pattern killer: generate the full Jan-2024
        # day spine (F.sequence — no source table needed), left-join
        # daily event counts, return EVERY day with its count incl.
        # zero-activity days (the rows a plain groupBy silently
        # drops); at scale the spine is dim-sized and broadcasts
        spine = spark.range(1).select(
            F.explode(F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-31").cast("date"))).alias("day"))
        ev = _load(spark, sf, "events")
        daily = ev.groupBy(F.col("ts").cast("date").alias("day")) \
            .agg(F.count(F.lit(1)).alias("n"))
        return (spine.join(daily, "day", "left")
                .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
                        (F.coalesce(F.col("n"), F.lit(0)) == 0)
                        .alias("is_gap")))

    def text_rake_keyphrases(spark, sf):
        # RAKE unsupervised keyphrase extraction: stopword-free token
        # runs via the gaps-and-islands window, deg/freq word scores
        # (vocabulary-sized table, broadcast back), phrase = Σ member
        # scores, top-25 by rounded score
        # (functions/text.py::rake_keyphrases)
        from fashion_knowledge_graph_spark.functions.text import (
            rake_keyphrases,
        )
        return rake_keyphrases(_load(spark, sf, "documents"), top=25)

    def a_unpivot_measures(spark, sf):
        # relational UNPIVOT (melt): the four lineitem measures become
        # (measure, value) rows in ONE pass — the wide→long reshape
        # feeding generic per-metric aggregation; stays codegen (no
        # explode of structs needed, Spark's native unpivot node)
        li = _load(spark, sf, "lineitem")
        long = li.unpivot(
            ["l_returnflag"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure", "value")
        return (long.groupBy("l_returnflag", "measure")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.sum(F.col("value")
                                   .cast("decimal(18,2)")), 2)
                     .cast("double").alias("total")))

    def ann_matryoshka_topk(spark, sf):
        # Matryoshka-style (MRL) truncated search: the FIRST 16 of 64
        # dims reused as a 4×-cheaper prefilter embedding — a pure
        # slice feeding the same brute-force machinery (at scale the
        # truncated pass shortlists, the full-dim pass re-ranks);
        # rank-only output like ann_cosine_topk
        emb = _load(spark, sf, "embeddings").select(
            "vec_id", F.slice("embedding", 1, 16).alias("embedding"))
        q = emb.filter(F.col("vec_id") < 20)
        return sim.cosine_topk(q, emb, k=5).select(
            "query_id", "corpus_id", "rank")

    def ann_matryoshka_recall(spark, sf):
        # retrieval-quality eval of the MRL truncation: recall@5 of
        # the 16-dim prefilter ranking against the full-64-dim exact
        # top-5, per query + the quality trade made visible as data —
        # the methodology number that decides whether the 4× cheaper
        # prefilter is safe (pairs with er_blocking_eval's role for
        # blocking)
        emb = _load(spark, sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        full = sim.cosine_topk(q, emb, k=5) \
            .select("query_id", "corpus_id")
        emb16 = emb.select(
            "vec_id", F.slice("embedding", 1, 16).alias("embedding"))
        q16 = emb16.filter(F.col("vec_id") < 20)
        trunc = sim.cosine_topk(q16, emb16, k=5) \
            .select("query_id", "corpus_id")
        hits = (full.join(trunc, ["query_id", "corpus_id"])
                .groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("n_hits")))
        return (full.groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("k"))
                .join(hits, "query_id", "left")
                .select("query_id",
                        F.coalesce(F.col("n_hits"), F.lit(0))
                        .cast("long").alias("n_hits"),
                        F.round(F.coalesce(F.col("n_hits"), F.lit(0))
                                / F.col("k"), 6).alias("recall_at_5")))

    def s_rollback(spark, sf):
        # Iceberg rollback_to_snapshot: load the supplier dim, append
        # a corrupt batch, ROLL BACK — a pure metadata commit
        # re-referencing the good snapshot's file set (no data job);
        # the read must equal the original exactly, the bad snapshot
        # stays time-travelable (asserted in-query)
        # (sources/tables.py::SnapshotTable.rollback)
        from fashion_knowledge_graph_spark.sources.tables import (
            SnapshotTable,
        )
        sup = _load(spark, sf, "supplier")
        t = SnapshotTable(tempfile.mkdtemp(prefix="fkg_rb_"))
        good = t.write(sup, mode="overwrite", stage="load")
        bad = t.write(
            sup.limit(3).withColumn("s_acctbal", F.lit(-1.0e9)),
            mode="append", stage="corrupt")
        t.rollback(good)
        assert t.count_rows() == t.count_rows(good)
        assert t.count_rows(bad) > t.count_rows(good)  # history intact
        return t.read(spark)

    def graph_modularity(spark, sf):
        # Newman modularity decomposition of the LPA communities over
        # the co-purchase graph — per-community internal weight,
        # degree weight, and Q contribution with exact BIGINT sums
        # (the judge of what label_propagation produced;
        # operators/graph.py::modularity)
        from fashion_knowledge_graph_spark.operators.graph import (
            label_propagation, modularity,
        )
        und = j6_cooccurrence_edges(spark, sf)
        e = und.select("src", "dst", "weight").unionByName(
            und.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"), "weight"))
        comm = label_propagation(e, weight="weight", rounds=3)
        return modularity(e, comm, weight="weight")

    def stream_cms_heavy_hitters(spark, sf):
        # 2.I × sketches: count-min bucket table maintained as REAL
        # Structured Streaming state (d·w cells FOREVER vs unbounded
        # per-term state; complete mode ⇒ stream ≡ batch, so the
        # sketch arithmetic is value-hash-checked), estimates joined
        # against batch exact counts
        # (streaming/incremental.py::stream_cms_once)
        from fashion_knowledge_graph_spark.streaming.incremental import (
            stream_cms_once,
        )
        return stream_cms_once(
            spark, os.path.join(sf, "documents.parquet"),
            depth=4, width=16)

    def s_csv_roundtrip(spark, sf):
        # CSV source/sink coverage: write the supplier dim to CSV
        # (header, Spark quoting) and read it back with an EXPLICIT
        # schema (no inference job — at 100 TB schema inference is a
        # full extra scan). The oracle reads the ORIGINAL parquet, so
        # the value-hash proves the round-trip lossless, including
        # shortest-repr double round-tripping of s_acctbal
        import hashlib

        sup = _load(spark, sf, "supplier")
        tag = hashlib.md5(sf.encode()).hexdigest()[:8]
        path = f"/tmp/spark_graft_csv_{tag}"
        sup.coalesce(1).write.mode("overwrite") \
            .option("header", True).csv(path)
        return spark.read.option("header", True) \
            .schema(sup.schema).csv(path) \
            .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")

    def j_skew_key_profile(spark, sf):
        # per-key skew diagnostics (the planning input for the salted
        # join / range-repartition knobs): top-10 heaviest supplier
        # keys with share + cumulative share — one partial-agg pass
        # over the data, window math on the key table only
        # (operators/skew.py::skew_profile)
        from fashion_knowledge_graph_spark.operators.skew import (
            skew_profile,
        )
        return skew_profile(_load(spark, sf, "lineitem"),
                            "l_suppkey", top=10)

    def events_session_paths(spark, sf):
        # top-20 session journeys: 4-hour-gap sessionization (the
        # sessionize_events contract), first-5-step paths joined as
        # arrow strings, counted — whole-journey mining vs
        # markov_transitions' single steps
        # (operators/temporal.py::session_paths)
        from fashion_knowledge_graph_spark.operators.temporal import (
            session_paths,
        )
        return session_paths(_load(spark, sf, "events"),
                             gap="4 hours", max_steps=5, top=20)

    def graph_degree_stats(spark, sf):
        # Degree datasheet + discrete power-law exponent MLE (Hill /
        # CSN eq. 3.7) for the co-purchase graph — the skew profile
        # that decides salting and hub caps at 100 TB; the ln-sum
        # runs over the distinct-degree rollup, not per node
        # (operators/graph.py::degree_stats)
        from fashion_knowledge_graph_spark.operators.graph import (
            degree_stats,
        )
        und = j6_cooccurrence_edges(spark, sf)
        s = degree_stats(und, dmin=2)
        return s.select(
            "n_nodes", "n_edges", "max_degree",
            F.round("mean_degree", 6).alias("mean_degree"),
            F.round("alpha_hill", 6).alias("alpha_hill"))

    def graph_assortativity(spark, sf):
        # Newman degree assortativity over the co-purchase graph —
        # with degree_stats' alpha this is the two-number skew
        # fingerprint (hub-hub vs hub-leaf wiring) that picks the
        # salting strategy (operators/graph.py::degree_assortativity)
        from fashion_knowledge_graph_spark.operators.graph import (
            degree_assortativity,
        )
        und = j6_cooccurrence_edges(spark, sf)
        s = degree_assortativity(und)
        return s.select("n_edge_ends",
                        F.round("r", 6).alias("r"))

    def scd2_type_intervals(spark, sf):
        # Type-2 SCD build: collapse each user's event stream into
        # validity intervals of event_type (islands by VALUE change,
        # not time gap) — one shuffle+sort per entity, epoch-µs
        # BIGINT bounds, open current interval
        # (operators/temporal.py::scd2_intervals)
        from fashion_knowledge_graph_spark.operators.temporal import (
            scd2_intervals,
        )
        return scd2_intervals(_load(spark, sf, "events"))

    def events_survival_km(spark, sf):
        # Kaplan–Meier time-to-churn curve: per-user activity span in
        # epoch days (exact integers), churn observed when the last
        # event predates the corpus horizon day (the user went quiet
        # before the data ends), else right-censored — still active
        # at the horizon; the estimator itself runs on the
        # distinct-durations rollup (operators/temporal.py::
        # kaplan_meier — running ln-sum product, absorbing zero when
        # a risk set fully churns)
        from fashion_knowledge_graph_spark.operators.temporal import (
            kaplan_meier,
        )
        ev = _load(spark, sf, "events")
        day = F.expr(
            "unix_micros(cast(ts as timestamp)) div 86400000000")
        pu = (ev.select("user_id", day.alias("day"))
              .groupBy("user_id")
              .agg(F.min("day").alias("d0"), F.max("day").alias("d1")))
        gmax = pu.agg(F.max("d1").alias("gmax"))
        dur = (pu.crossJoin(F.broadcast(gmax))
               .select((F.col("d1") - F.col("d0")).alias("t"),
                       (F.col("d1") < F.col("gmax"))
                       .alias("observed")))
        return kaplan_meier(dur)

    def stat_gini_concentration(spark, sf):
        # Revenue inequality per market segment: Gini coefficient via
        # the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
        # customers sorted by revenue. Revenue is summed as
        # DECIMAL(18,2) (exact, order-free), rank·revenue stays
        # DECIMAL, so both Σ terms are exact integers-scaled values —
        # only the final ratio is floating. Ties don't matter: equal
        # xᵢ make Σ i·xᵢ invariant under any tie order. One shuffle
        # to the per-customer rollup, one per-segment sort for the
        # rank window (segment-partitioned range sort at scale), then
        # a 5-row agg
        cust = _load(spark, sf, "customer")
        orders = _load(spark, sf, "orders")
        rev = (cust.join(orders, cust.c_custkey == orders.o_custkey)
               .groupBy("c_mktsegment", "c_custkey")
               .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .alias("x")))
        w = (Window.partitionBy("c_mktsegment")
             .orderBy(F.asc("x"), F.asc("c_custkey")))
        ranked = rev.withColumn("i", F.row_number().over(w))
        return (ranked.groupBy("c_mktsegment")
                .agg(F.count(F.lit(1)).alias("n_customers"),
                     F.sum("x").cast("double").alias("_tot"),
                     F.sum(F.col("i") * F.col("x")).cast("double")
                     .alias("_wtot"))
                .select("c_mktsegment", "n_customers",
                        F.round("_tot", 2).alias("total_revenue"),
                        F.round(
                            2.0 * F.col("_wtot")
                            / (F.col("n_customers") * F.col("_tot"))
                            - (F.col("n_customers") + 1)
                            / F.col("n_customers").cast("double"),
                            6).alias("gini")))

    def stat_ab_ztest(spark, sf):
        # Two-proportion z-test on high-value-purchase conversion
        # (a purchase with value > 200 — plain purchase saturates at
        # ~100% of users in this corpus, a degenerate test) between
        # two deterministic user buckets (user_id parity stands in
        # for the hashed assignment a real experiment platform uses).
        # Per-user conversion collapses in ONE partial-agg'd groupBy
        # on user_id; the test statistic is scalar math over four
        # exact integer counts — pooled p̂, z = Δp/√(p̂(1−p̂)(1/n₀+1/n₁))
        # — so the replay is bit-identical
        ev = _load(spark, sf, "events")
        per_user = (ev.groupBy("user_id")
                    .agg(F.max(((F.col("event_type") == "purchase")
                                & (F.col("value") > 200))
                               .cast("long")).alias("conv"))
                    .select((F.col("user_id") % 2).alias("variant"),
                            "conv"))
        g = (per_user.groupBy("variant")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("conv").alias("c"))
             .agg(F.max(F.when(F.col("variant") == 0, F.col("n")))
                  .alias("n_a"),
                  F.max(F.when(F.col("variant") == 0, F.col("c")))
                  .alias("conv_a"),
                  F.max(F.when(F.col("variant") == 1, F.col("n")))
                  .alias("n_b"),
                  F.max(F.when(F.col("variant") == 1, F.col("c")))
                  .alias("conv_b")))
        pa = F.col("conv_a") / F.col("n_a")
        pb = F.col("conv_b") / F.col("n_b")
        pp = (F.col("conv_a") + F.col("conv_b")) \
            / (F.col("n_a") + F.col("n_b"))
        z = (pb - pa) / F.sqrt(pp * (1 - pp)
                               * (1.0 / F.col("n_a")
                                  + 1.0 / F.col("n_b")))
        return g.select(
            "n_a", "conv_a", "n_b", "conv_b",
            F.round(pa, 6).alias("rate_a"),
            F.round(pb, 6).alias("rate_b"),
            F.round(z, 6).alias("z_score"),
            (F.abs(z) > 1.959964).alias("significant_95"))

    def stat_cuped(spark, sf):
        # CUPED variance reduction (Deng et al., WSDM'13): per-user
        # pre-period spend (days 1–15) as the covariate X against
        # post-period spend Y; θ = cov(X,Y)/var(X), adjusted metric
        # variance var(Y)−θ²var(X), reduction = ρ². ONE partial-agg'd
        # per-user rollup (DECIMAL sums — exact), then five exact
        # moments in one more agg; only the final scalar division is
        # floating, so the replay is bit-identical. The number that
        # decides how much experiment traffic CUPED saves
        ev = _load(spark, sf, "events")
        cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
        v = F.col("value").cast("decimal(18,6)")
        pu = (ev.groupBy("user_id")
              .agg(F.coalesce(F.sum(F.when(
                  F.col("ts").cast("timestamp") < cutoff, v)),
                  F.lit(0).cast("decimal(18,6)")).alias("x"),
                  F.coalesce(F.sum(F.when(
                      F.col("ts").cast("timestamp") >= cutoff, v)),
                      F.lit(0).cast("decimal(18,6)")).alias("y")))
        m = pu.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"), F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"))
        n = F.col("n").cast("double")
        sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
        sxy = F.col("sxy").cast("double")
        sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
        var_x = sxx / n - (sx / n) * (sx / n)
        var_y = syy / n - (sy / n) * (sy / n)
        cov = sxy / n - (sx / n) * (sy / n)
        theta = cov / var_x
        var_adj = var_y - theta * theta * var_x
        return m.select(
            F.col("n").cast("long").alias("n_users"),
            F.round(theta, 6).alias("theta"),
            F.round(var_y, 4).alias("var_y"),
            F.round(var_adj, 4).alias("var_y_adjusted"),
            F.round(1.0 - var_adj / var_y, 6)
            .alias("variance_reduction"))

    def stat_bootstrap_ci(spark, sf):
        # deterministic Poisson bootstrap (Chamandy et al. 2012): 95%
        # CI for the mean purchase value, 64 replicates riding ONE
        # map pass (row → per-replicate Poisson(1) weights from the
        # md5 uniform through literal inverse-CDF thresholds) into a
        # 64-row replicate-means table — the resample-with-replacement
        # shuffle never happens (operators/sampling.py::
        # poisson_bootstrap_mean)
        from fashion_knowledge_graph_spark.operators.sampling import (
            poisson_bootstrap_mean,
        )
        ev = _load(spark, sf, "events") \
            .filter(F.col("event_type") == "purchase")
        return poisson_bootstrap_mean(ev, "event_id", "value",
                                      b=64, salt="boot")

    def stat_did(spark, sf):
        # difference-in-differences on the (user-parity treatment ×
        # pre/post) panel: DiD = (T,post − T,pre) − (C,post − C,pre)
        # over per-cell mean event values — four exact-DECIMAL cell
        # sums from ONE pass; the causal-inference workhorse when
        # randomization isn't available
        ev = _load(spark, sf, "events")
        cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
        cells = (ev.groupBy(
            (F.col("user_id") % 2 == 1).alias("treated"),
            (F.col("ts").cast("timestamp") >= cutoff).alias("post"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,6)"))
                 .alias("s")))
        g = cells.agg(*[
            F.max(F.when((F.col("treated") == t)
                         & (F.col("post") == p),
                         F.col("s").cast("double") / F.col("n")))
            .alias(f"m_{'t' if t else 'c'}_{'post' if p else 'pre'}")
            for t in (True, False) for p in (True, False)])
        did = ((F.col("m_t_post") - F.col("m_t_pre"))
               - (F.col("m_c_post") - F.col("m_c_pre")))
        return g.select(
            F.round("m_t_pre", 6).alias("treat_pre"),
            F.round("m_t_post", 6).alias("treat_post"),
            F.round("m_c_pre", 6).alias("control_pre"),
            F.round("m_c_post", 6).alias("control_post"),
            F.round(did, 6).alias("did_estimate"))

    def rank_eval_ndcg(spark, sf):
        # Ranking-quality evaluation: NDCG@10 of the exact cosine
        # retriever against binary label-match relevance. The ranked
        # lists come from the SAME gate-proven cosine_topk operator
        # (integer ranks — no float scores cross the comparison);
        # rel, R_q (relevant-corpus size) and both DCG sums are
        # integer-derived, IDCG@10 closes over min(10, R_q) ideal
        # hits. Per query: retrieval is the only big pass; the eval
        # itself is a 10-row-per-query rollup plus one broadcast-able
        # per-label count
        from fashion_knowledge_graph_spark.operators import (
            similarity as sim,
        )
        emb = _load(spark, sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        top = sim.cosine_topk(q, emb, k=10) \
            .select("query_id", "corpus_id", "rank")
        lab = emb.select("vec_id", "label")
        rel = (top
               .join(F.broadcast(lab.withColumnRenamed("vec_id",
                                                       "query_id")
                                 .withColumnRenamed("label",
                                                    "q_label")),
                     "query_id")
               .join(lab.withColumnRenamed("vec_id", "corpus_id")
                     .withColumnRenamed("label", "c_label"),
                     "corpus_id")
               .withColumn("rel",
                           (F.col("q_label") == F.col("c_label"))
                           .cast("long")))
        # corpus-wide relevant count per label (self excluded)
        nlab = emb.groupBy(F.col("label").alias("q_label")) \
            .agg((F.count(F.lit(1)) - 1).alias("n_relevant"))
        per_q = (rel.groupBy("query_id", "q_label")
                 .agg(F.sum(F.col("rel")
                            / F.log2(F.col("rank") + 1))
                      .alias("dcg"))
                 .join(F.broadcast(nlab), "q_label"))
        idcg = F.expr(
            "aggregate(sequence(1, int(greatest(1, "
            "least(10, n_relevant)))), "
            "cast(0.0 as double), (s, i) -> s + 1.0 / log2(i + 1))")
        return per_q.select(
            "query_id", "n_relevant",
            F.round("dcg", 6).alias("dcg10"),
            F.round(idcg, 6).alias("idcg10"),
            F.round(F.col("dcg") / idcg, 6).alias("ndcg10"))

    def stat_contingency(spark, sf):
        # Categorical dependence datasheet for (market segment ×
        # order priority): chi², degrees of freedom, Cramér's V and
        # mutual information in ONE row. Joint counts are one
        # partial-agg'd groupBy (the only big-data pass); every
        # later step runs on the 25-cell grid. All log/division
        # inputs are exact integer counts, so the scalar formulas
        # replay bit-for-bit
        cust = _load(spark, sf, "customer")
        orders = _load(spark, sf, "orders")
        joint = (cust.join(orders,
                           cust.c_custkey == orders.o_custkey)
                 .groupBy("c_mktsegment", "o_orderpriority")
                 .agg(F.count(F.lit(1)).alias("nij")))
        wr = Window.partitionBy("c_mktsegment")
        wc = Window.partitionBy("o_orderpriority")
        wall = Window.partitionBy()
        g = (joint
             .withColumn("r", F.sum("nij").over(wr))
             .withColumn("c", F.sum("nij").over(wc))
             .withColumn("n", F.sum("nij").over(wall)))
        e = F.col("r") * F.col("c") / F.col("n")
        cell_chi = F.pow(F.col("nij") - e, 2) / e
        cell_mi = ((F.col("nij") / F.col("n"))
                   * F.log2(F.col("nij") * F.col("n")
                            / (F.col("r") * F.col("c"))))
        return (g.agg(
            F.max("n").cast("bigint").alias("n"),
            F.round(F.sum(cell_chi), 4).alias("chi2"),
            ((F.countDistinct("c_mktsegment") - 1)
             * (F.countDistinct("o_orderpriority") - 1))
            .cast("bigint").alias("dof"),
            F.round(F.sqrt(F.sum(cell_chi) / (F.max("n")
                    * F.least(F.countDistinct("c_mktsegment") - 1,
                              F.countDistinct("o_orderpriority")
                              - 1))), 6).alias("cramers_v"),
            F.round(F.sum(cell_mi), 6).alias("mi_bits")))

    def select_max_coverage(spark, sf):
        # Budgeted corpus selection: greedy (1−1/e) max-coverage pick
        # of 5 docs maximizing word-BIGRAM coverage (916-bigram space
        # at sf0.01 — unigrams collapse to 31) — k rounds of
        # anti-join + word-count-shaped aggregation, covered set
        # stays distributed (operators/selection.py)
        from fashion_knowledge_graph_spark.functions.text import (
            tokens,
        )
        from fashion_knowledge_graph_spark.operators.selection import (
            greedy_max_coverage,
        )
        docs = (_load(spark, sf, "documents")
                .filter(F.col("text").isNotNull()))
        dt = (docs.select("doc_id", tokens(F.col("text")).alias("t"))
              .select("doc_id", F.explode(F.expr(
                  # sequence(1,0) would be DESCENDING, not empty —
                  # guard the 1-token case explicitly
                  "CASE WHEN size(t) >= 2 THEN "
                  "transform(sequence(1, size(t)-1), i -> "
                  "concat(element_at(t, i), ' ', "
                  "element_at(t, i+1))) ELSE array() END"))
                  .alias("tok")))
        return greedy_max_coverage(dt, k=5)

    def dq_table_profile(spark, sf):
        # ANALYZE-style per-column statistics over orders (null frac,
        # exact NDV, min/max) — the optimizer-stats collector; all
        # row-level stats in ONE aggregate job, stack-unpivoted to a
        # row per column (operators/validate.py::profile_table)
        from fashion_knowledge_graph_spark.operators.validate import (
            profile_table,
        )
        return profile_table(
            _load(spark, sf, "orders"),
            ["o_orderkey", "o_custkey", "o_orderstatus",
             "o_orderpriority", "o_totalprice"])

    def sketch_join_size(spark, sf):
        # Join-cardinality estimation WITHOUT joining: the AMS/CMS
        # inner-product estimator on the lineitem×lineitem self-join
        # over l_partkey (= the second frequency moment F₂, the
        # skew statistic a join planner needs). Each side collapses
        # to a depth×width bucket table — KBs of shuffle at any
        # scale; the exact Σf² companion rides along for error
        # inspection (operators/sketches.py::cms_join_size)
        from fashion_knowledge_graph_spark.operators.sketches import (
            cms_join_size,
        )
        li = _load(spark, sf, "lineitem")
        return cms_join_size(li, li, "l_partkey", "l_partkey",
                             depth=4, width=8192)

    def j_rendezvous_shards(spark, sf):
        # rendezvous (HRW) shard assignment of the corpus onto 4
        # named shards — consistent-hashing semantics without a ring:
        # stateless argmax of per-shard hashes, minimal remap on
        # membership change (pinned in tests/test_skew.py); rolled up
        # to per-shard counts (operators/skew.py::rendezvous_assign)
        from fashion_knowledge_graph_spark.operators.skew import (
            rendezvous_assign,
        )
        docs = _load(spark, sf, "documents").select("doc_id")
        return (rendezvous_assign(docs, "doc_id",
                                  ["us-east", "us-west", "eu", "ap"])
                .groupBy("shard")
                .agg(F.count(F.lit(1)).alias("n_docs")))

    def ml_target_encoding(spark, sf):
        # K-fold leave-one-fold-out target encoding of the market
        # segment against order value — the leakage-free
        # high-cardinality-categorical feature (sklearn/CatBoost
        # shape) via the fold-marginal decomposition: ONE partial-agg
        # pass over the facts into a (|cats|·K)-row table, exact
        # DECIMAL sums, md5 folds (operators/features.py)
        from fashion_knowledge_graph_spark.operators.features import (
            target_encode_loo,
        )
        cust = _load(spark, sf, "customer")
        orders = _load(spark, sf, "orders")
        facts = (cust.join(orders, cust.c_custkey == orders.o_custkey)
                 .select("o_orderkey", "c_mktsegment", "o_totalprice"))
        return target_encode_loo(facts, "o_orderkey", "c_mktsegment",
                                 "o_totalprice", n_folds=5,
                                 prior_weight=10.0)

    def ml_feature_hash(spark, sf):
        # the hashing trick over document tokens: unbounded vocab →
        # fixed 64-bucket signed-hash space, sparse (doc, bucket,
        # value) rows — no vocabulary pass, no fitted state, ONE
        # groupBy (operators/features.py::feature_hash)
        from fashion_knowledge_graph_spark.operators.features import (
            feature_hash,
        )
        docs = (_load(spark, sf, "documents")
                .filter((F.col("text").isNotNull())
                        & (F.col("doc_id") < 1000)))
        toks = docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " "))
            .alias("tok")).filter(F.col("tok") != "")
        return feature_hash(toks, "doc_id", "tok", dim=64)

    def dq_constraint_suite(spark, sf):
        # Declarative DQ gate (Great Expectations / Deequ shape) over
        # lineitem: 6 row/set-level rules compile into ONE aggregate
        # scan + 1 anti-join pass for the FK rule
        # (operators/validate.py::check_constraints — at 10^12 rows
        # one-scan-for-all-rules is the feature); a rule set chosen
        # to exercise every rule type with both passing and binding
        # outcomes
        from fashion_knowledge_graph_spark.operators.validate import (
            check_constraints,
        )
        li = _load(spark, sf, "lineitem")
        orders = _load(spark, sf, "orders")
        rules = [
            {"name": "orderkey_not_null", "type": "not_null",
             "col": "l_orderkey"},
            {"name": "qty_1_50", "type": "range", "col": "l_quantity",
             "min": 1, "max": 50},
            {"name": "discount_0_005", "type": "range",
             "col": "l_discount", "min": 0.0, "max": 0.05},
            {"name": "returnflag_enum", "type": "enum",
             "col": "l_returnflag", "values": ["A", "N", "R"]},
            {"name": "linestatus_shape", "type": "regex",
             "col": "l_linestatus", "pattern": "^[OF]$"},
            {"name": "line_pk_unique", "type": "unique",
             "cols": ["l_orderkey", "l_linenumber"]},
            {"name": "orderkey_fk", "type": "foreign_key",
             "col": "l_orderkey", "ref": orders,
             "ref_col": "o_orderkey"},
        ]
        return check_constraints(li, rules)

    def events_mad_outliers(spark, sf):
        # Robust outlier detection: per-type median + MAD (both EXACT
        # interpolated percentiles, the parity-proven
        # percentile ≡ quantile_cont lane), flag |x−med| > 3·1.4826·MAD.
        # Two dim-sized per-type stat rows broadcast back onto the
        # stream — the robust twin of events_daily_anomaly's
        # mean/stddev z-score (median tolerates the very outliers
        # stddev absorbs)
        ev = _load(spark, sf, "events")
        med = ev.groupBy("event_type").agg(
            F.expr("percentile(value, 0.5)").alias("med"))
        dev = (ev.join(F.broadcast(med), "event_type")
               .withColumn("adev", F.abs(F.col("value")
                                         - F.col("med"))))
        mad = dev.groupBy("event_type").agg(
            F.expr("percentile(adev, 0.5)").alias("mad"))
        return (dev.join(F.broadcast(mad), "event_type")
                .filter(F.col("adev")
                        > 3 * 1.4826 * F.col("mad"))
                .select("event_id", "event_type",
                        F.round("value", 2).alias("value"),
                        F.round(F.col("adev")
                                / (F.lit(1.4826) * F.col("mad")),
                                4).alias("robust_z")))

    def dq_fd_violations(spark, sf):
        # Data-quality audit: functional-dependency check
        # p_name → p_type; emit the violating LHS groups with their
        # RHS cardinality — one partial-agg'd groupBy over a
        # two-column projection (the scan reads 2 columns at any
        # scale)
        part = _load(spark, sf, "part")
        return (part.groupBy("p_name")
                .agg(F.countDistinct("p_type").alias("n_types"),
                     F.count(F.lit(1)).alias("n_rows"))
                .filter(F.col("n_types") > 1))

    def dq_benford_digits(spark, sf):
        # Benford first-digit audit over order totals: observed share
        # per leading digit vs ln(1+1/d)/ln(10). The digit comes from
        # the BIGINT string of floor(x) — integer-to-string is
        # engine-portable where log10-of-double boundary cases are
        # not
        o = _load(spark, sf, "orders")
        d = F.substring(F.floor("o_totalprice").cast("bigint")
                        .cast("string"), 1, 1).cast("int")
        tot = o.count()
        return (o.groupBy(d.alias("digit"))
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn("share",
                            F.round(F.col("n") / F.lit(tot), 6))
                .withColumn("benford",
                            F.round(F.log(1.0 + 1.0 / F.col("digit"))
                                    / F.log(F.lit(10.0)), 6))
                .withColumn("delta",
                            F.round(F.col("share")
                                    - F.col("benford"), 6)))

    def w_forward_fill(spark, sf):
        # Gap-fill: deterministically null ~20% of readings (md5
        # selector), then forward-fill per user in event order with
        # last(ignorenulls) over a running frame — ONE shuffle+sort
        # per user; leading nulls stay null (nothing to carry)
        ev = _load(spark, sf, "events")
        h = F.conv(F.substring(F.md5(F.concat(
            F.lit("ff:"), F.col("event_id").cast("string"))),
            1, 15), 16, 10).cast("long")
        v = F.when(h % 5 != 0, F.col("value"))
        w = (Window.partitionBy("user_id")
             .orderBy(F.asc("ts"), F.asc("event_id"))
             .rowsBetween(Window.unboundedPreceding, 0))
        return (ev.select("event_id", "user_id", "ts", v.alias("v"))
                .withColumn("v_filled",
                            F.last("v", ignorenulls=True).over(w))
                .select("event_id", "user_id",
                        F.round("v", 2).alias("v"),
                        F.round("v_filled", 2).alias("v_filled")))

    def ml_ols_regression(spark, sf):
        # Distributed closed-form OLS (normal equations): ONE
        # map-side partial-agg pass collects 10 exact DECIMAL
        # moments, the 3×3 Cramer solve is scalar math on the merged
        # row — the MLlib WeightedLeastSquares shape, zero iterations
        # and zero vector shuffles at any scale. Fit:
        # l_extendedprice ~ l_quantity + l_discount
        # (operators/regression.py::ols_fit)
        from fashion_knowledge_graph_spark.operators.regression import (
            ols_fit,
        )
        li = _load(spark, sf, "lineitem")
        fit = ols_fit(li, "l_extendedprice", "l_quantity",
                      "l_discount")
        return fit.select(
            "n",
            F.round("intercept", 4).alias("intercept"),
            F.round("beta1", 4).alias("beta1"),
            F.round("beta2", 4).alias("beta2"),
            F.round("r2", 6).alias("r2"))

    def sketch_bloom_filter(spark, sf):
        # Explicit Bloom filter as a first-class, persistable sketch:
        # build the bit table over high-value customers (the filter
        # is ≤ m rows regardless of input size → broadcasts at any
        # scale), probe ALL customers, and emit might_contain next to
        # exact membership so false positives are visible data (no
        # false negatives by construction — the invariant the oracle
        # hash-checks). Same shape as Spark's runtime might_contain
        # join pruning, but deterministic md5 lanes ⇒ bit-replayable
        # (operators/sketches.py::bloom_build/bloom_probe)
        from fashion_knowledge_graph_spark.operators.sketches import (
            bloom_build, bloom_probe,
        )
        orders = _load(spark, sf, "orders")
        cust = _load(spark, sf, "customer")
        members = (orders.filter(F.col("o_totalprice") > 480000)
                   .select(F.col("o_custkey").alias("k")).distinct())
        bits = bloom_build(members, "k", m=4096, d=3)
        probed = bloom_probe(bits, cust.select("c_custkey"),
                             "c_custkey", m=4096, d=3)
        return (probed
                .join(members.withColumnRenamed("k", "c_custkey")
                      .withColumn("is_member", F.lit(True)),
                      "c_custkey", "left")
                .select("c_custkey", "might_contain",
                        F.coalesce("is_member", F.lit(False))
                        .alias("is_member")))

    def _er_dirty_mentions(spark, sf):
        # deterministic dirty mention synthesis shared by the er_*
        # queries: md5-chosen single-char deletion over brand+name on
        # ~40% of part rows → (mention_id, mention_text)
        part = _load(spark, sf, "part")
        fullname = F.concat(F.col("p_brand"), F.lit(" "),
                            F.col("p_name"))
        h = F.conv(F.substring(F.md5(F.concat(
            F.lit("er:"), F.col("p_partkey").cast("string"))),
            1, 15), 16, 10).cast("long")
        men = part.select(
            F.col("p_partkey").alias("mention_id"),
            fullname.alias("fullname"), h.alias("h"))
        pos = (F.col("h") % (F.length("fullname") - F.lit(1))
               + F.lit(2))
        return men.select(
            "mention_id",
            F.when(F.col("h") % 10 < 4,
                   F.concat(
                       F.substr(F.col("fullname"), F.lit(1),
                                pos - 1),
                       F.substr(F.col("fullname"), pos + 1,
                                F.length("fullname"))))
            .otherwise(F.col("fullname")).alias("mention_text"))

    def er_fuzzy_link(spark, sf):
        # Surface-form entity resolution (the embedding-free linking
        # path): deterministic dirty mentions resolved against the
        # distinct catalog via positional 3-gram blocking with
        # stop-gram pruning (catalog gram df > 100 dropped from BOTH
        # sides — the brand-prefix grams shared by every name) then
        # Levenshtein ≤ 2 verify and deterministic top-1
        # (operators/er.py — Gravano et al. q-gram join; candidate
        # fan-out 165k vs the 2.26M unblocked cross product at
        # sf0.01, 13.7× pruning)
        from fashion_knowledge_graph_spark.operators.er import (
            fuzzy_top1,
        )
        part = _load(spark, sf, "part")
        men2 = _er_dirty_mentions(spark, sf)
        cat = (part.select(F.concat(F.col("p_brand"), F.lit(" "),
                                    F.col("p_name")).alias("cat_name"))
               .distinct()
               .withColumn("cat_id", F.md5(F.col("cat_name"))))
        top1 = fuzzy_top1(men2, cat, "mention_id", "mention_text",
                          "cat_id", "cat_name",
                          q=3, max_distance=2, max_gram_df=100)
        return top1.select("mention_id", "mention_text", "cat_name",
                           "distance")

    def er_snm_link(spark, sf):
        # sorted-neighborhood blocking over the dirty mentions (the
        # OTHER canonical ER candidate generator next to er_fuzzy_link's
        # q-gram blocking): ONE range-sort rank, exploded-offset
        # EQUI-join panes (no theta join), Levenshtein ≤ 2 verify —
        # candidates bounded at n·(w−1)/2 regardless of key skew
        # (operators/er.py::snm_pairs)
        from fashion_knowledge_graph_spark.operators.er import snm_pairs
        men = _er_dirty_mentions(spark, sf)
        return snm_pairs(men, "mention_id", "mention_text",
                         window=5, max_distance=2) \
            .select("id_a", "id_b", "distance")

    def er_blocking_eval(spark, sf):
        # blocking-quality datasheet (the record-linkage methodology
        # numbers): q-gram blocking's candidate count, reduction
        # ratio vs the full cross product, and pairs completeness —
        # recall of each mention's KNOWN true catalog entry (its own
        # uncorrupted name) among its candidates. One row; every
        # input an exact integer
        from fashion_knowledge_graph_spark.operators.er import (
            qgram_explode, stop_grams,
        )
        part = _load(spark, sf, "part")
        men = _er_dirty_mentions(spark, sf)
        truth = part.select(
            F.col("p_partkey").alias("mention_id"),
            F.concat(F.col("p_brand"), F.lit(" "),
                     F.col("p_name")).alias("cat_name"))
        cat = truth.select("cat_name").distinct()
        lg = qgram_explode(men, "mention_id", "mention_text", q=3)
        rg = qgram_explode(cat, "cat_name", "cat_name", q=3)
        stops = stop_grams(rg, 100)
        lg = lg.join(F.broadcast(stops), "gram", "left_anti")
        rg = rg.join(F.broadcast(stops), "gram", "left_anti")
        cand = lg.join(rg, "gram") \
            .select("mention_id", "cat_name").distinct() \
            .localCheckpoint(eager=True)
        n_m = men.count()
        n_c = cat.count()
        n_cand = cand.count()
        hits = truth.join(cand, ["mention_id", "cat_name"]).count()
        return spark.createDataFrame(
            [(n_m, n_c, n_cand,
              round(1.0 - n_cand / (n_m * n_c), 6),
              round(hits / n_m, 6))],
            "n_mentions long, n_catalog long, n_candidates long, "
            "reduction_ratio double, pairs_completeness double")

    def er_key_blocking_metrics(spark, sf):
        # Generic KEY-blocking datasheet (operators/er.py::
        # blocking_metrics) — the dedup-shaped twin of
        # er_blocking_eval's q-gram numbers: block documents on
        # (lang, source), ground truth = exact 3-gram Jaccard ≥ 0.35
        # pairs. Candidate counts come from block SIZES (Σ n·(n−1)/2,
        # one groupBy — the candidate set itself is never
        # materialized, the only shape that counts a usable blocker
        # at 10^12 docs); matched counts from joining the truth pairs
        # (label-sized) to the per-doc keys
        from fashion_knowledge_graph_spark.operators.dedup import (
            jaccard_pairs_exact,
        )
        from fashion_knowledge_graph_spark.operators.er import (
            blocking_metrics,
        )
        docs = _load(spark, sf, "documents")
        truth = jaccard_pairs_exact(docs, threshold=0.35) \
            .select("id_a", "id_b")
        return blocking_metrics(docs, truth, ["lang", "source"])

    def er_clusters(spark, sf):
        # ER canonicalization step 2: transitive closure of the fuzzy
        # pairs — blocked mention↔mention self-join (same q-gram +
        # stop-gram machinery, Levenshtein ≤ 1, a<b dedup) feeds
        # connected components; cluster id = min mention id, with the
        # member count alongside. The surface-form twin of
        # kg_canonical's embedding-based dedup
        # (operators/er.py + operators/components.py)
        from fashion_knowledge_graph_spark.operators.components import (
            connected_components,
        )
        from fashion_knowledge_graph_spark.operators.er import (
            fuzzy_join,
        )
        men2 = _er_dirty_mentions(spark, sf)
        rhs = (men2.select(F.col("mention_id").alias("rid"),
                           F.col("mention_text").alias("rtext")))
        pairs = fuzzy_join(men2, rhs, "mention_id", "mention_text",
                           "rid", "rtext",
                           q=3, max_distance=1, max_gram_df=100)
        edges = (pairs.filter(F.col("mention_id") < F.col("rid"))
                 .select(F.col("mention_id").alias("src"),
                         F.col("rid").alias("dst")))
        cc = connected_components(
            edges, men2.select(F.col("mention_id").alias("id")), "id")
        sizes = (cc.groupBy("component")
                 .agg(F.count(F.lit(1)).alias("n_members")))
        return (cc.join(sizes, "component")
                .select(F.col("id").alias("mention_id"),
                        F.col("component").alias("cluster_id"),
                        "n_members"))

    def events_hopping_agg(spark, sf):
        # Hopping (sliding) window aggregation: 2-hour windows every
        # 1 hour — each event lands in exactly two overlapping
        # windows. Spark's window(ts, width, slide) generates the
        # window set JVM-side (no explode UDF); at 100 TB this is a
        # single map-side fan-out of width/slide rows per event into
        # a partial-aggregating groupBy.
        ev = _load(spark, sf, "events")
        return (ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("value").cast("decimal(18,6)")),
                         4).cast("double").alias("total_value"))
            .select(F.date_format(F.col("w.start"),
                                  "yyyy-MM-dd HH:mm:ss")
                    .alias("win_start"),
                    "event_type", "n", "total_value"))

    def tok_bpe_pair_counts(spark, sf):
        # tokenizer training, iteration-0: frequency-weighted adjacent
        # character-pair counts over the corpus vocabulary — the BPE
        # merge-candidate table (operators/tokenizer.py, Sennrich et
        # al. 2016). ONE corpus pass (map-side-combined word count);
        # the pair explode runs over the aggregated vocab, which is
        # corpus-size-independent, so at 10^12 docs only the word
        # count scales. The oracle replays the exact counts and the
        # (count desc, pair asc) top-20 selection.
        from fashion_knowledge_graph_spark.operators.tokenizer import (
            char_pair_counts,
        )
        return char_pair_counts(_load(spark, sf, "documents"), k=20)

    def rank_eval_mrr(spark, sf):
        # retrieval eval #2: MRR and precision@5 from the SAME
        # gate-proven cosine retriever (integer ranks cross the
        # boundary, never float scores); rr = 1/first-relevant-rank,
        # 0 when nothing relevant lands in the top 10
        from fashion_knowledge_graph_spark.operators import (
            similarity as sim,
        )
        emb = _load(spark, sf, "embeddings")
        qs = emb.filter(F.col("vec_id") < 20)
        top = sim.cosine_topk(qs, emb, k=10)             .select("query_id", "corpus_id", "rank")
        lab = emb.select("vec_id", "label")
        rel = (top
               .join(F.broadcast(lab.withColumnRenamed("vec_id",
                                                       "query_id")
                                 .withColumnRenamed("label",
                                                    "q_label")),
                     "query_id")
               .join(lab.withColumnRenamed("vec_id", "corpus_id")
                     .withColumnRenamed("label", "c_label"),
                     "corpus_id")
               .withColumn("rel",
                           (F.col("q_label") == F.col("c_label"))
                           .cast("long")))
        g = rel.groupBy("query_id").agg(
            F.min(F.when(F.col("rel") == 1, F.col("rank")))
            .alias("first_hit"),
            (F.sum(F.when(F.col("rank") <= 5, F.col("rel"))
                   .otherwise(F.lit(0))) / 5.0).alias("p_at_5"),
            F.sum("rel").alias("hits_at_10"))
        rr = F.coalesce(1.0 / F.col("first_hit"), F.lit(0.0))
        return g.select("query_id", F.round(rr, 6).alias("rr"),
                        "p_at_5", "hits_at_10")

    def q_skyline_2d(spark, sf):
        # Pareto frontier (skyline) over (price low, size high): the
        # 2-D case collapses to ONE sort + running-max window — order
        # by (price asc, size desc) and keep points whose size beats
        # every preceding point's — vs the textbook NOT-EXISTS O(n²)
        # self-join, which is exactly what the oracle runs, so the
        # check is cross-ALGORITHM, not just cross-engine. Scale
        # shape: the sweep runs FIRST inside hash buckets (a local
        # skyline over ANY partitioning is a superset of the global
        # one), so the only global sort sees the tiny survivor set —
        # a global-window-only form would serialize 10^12 points into
        # one task.
        part = _load(spark, sf, "part")
        pts = (part.groupBy(
            F.round(F.col("p_retailprice"), 2).alias("price"),
            F.col("p_size").alias("size"))
            .agg(F.count(F.lit(1)).alias("n_parts")))

        def sweep(df, *partition):
            w = Window.partitionBy(*partition) \
                .orderBy(F.asc("price"), F.desc("size")) \
                .rowsBetween(Window.unboundedPreceding, -1)
            return (df.withColumn("__b", F.max("size").over(w))
                    .filter(F.col("__b").isNull()
                            | (F.col("size") > F.col("__b")))
                    .drop("__b"))

        local = sweep(pts.withColumn(
            "__bkt", F.pmod(F.hash("price", "size"), F.lit(32))),
            "__bkt").drop("__bkt")
        return sweep(local).select("price", "size", "n_parts")

    def market_basket_triples(spark, sf):
        # Apriori level-wise frequent-triple mining (Agrawal &
        # Srikant): L1 (frequent items) prunes the basket table, L2
        # (frequent pairs) prunes the triple space via THREE left-semi
        # joins BEFORE the triple aggregation — the candidate
        # explosion never materializes, which is the entire algorithm
        # at 10^12 baskets. Deterministic top-20 by support.
        li = _load(spark, sf, "lineitem")
        minsup = 2
        b = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").alias("p")).distinct()
        l1 = b.groupBy("p").agg(F.count(F.lit(1)).alias("n"))             .filter(F.col("n") >= minsup).select("p")
        b1 = b.join(l1, "p", "left_semi")
        pa = b1.select("ok", F.col("p").alias("x"))
        pb = b1.select("ok", F.col("p").alias("y"))
        l2 = (pa.join(pb, "ok").filter(F.col("x") < F.col("y"))
              .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") >= minsup).select("x", "y")
              .localCheckpoint(eager=True))
        pc = b1.select("ok", F.col("p").alias("z"))
        tri = (pa.join(pb, "ok").filter(F.col("x") < F.col("y"))
               .join(pc, "ok").filter(F.col("y") < F.col("z")))
        pruned = (tri.join(l2, ["x", "y"], "left_semi")
                  .join(l2.select(F.col("x").alias("y"),
                                  F.col("y").alias("z")),
                        ["y", "z"], "left_semi")
                  .join(l2.select(F.col("x"),
                                  F.col("y").alias("z")),
                        ["x", "z"], "left_semi"))
        return (pruned.groupBy("x", "y", "z")
                .agg(F.count(F.lit(1)).alias("support"))
                .filter(F.col("support") >= minsup)
                .orderBy(F.desc("support"), F.asc("x"), F.asc("y"),
                         F.asc("z"))
                .limit(20))

    def geo_knn_grid(spark, sf):
        # geospatial K-nearest-neighbors, grid-blocked: md5-derived
        # (lat, lon) per customer, probes = the supplier fleet; each
        # probe fans out to its 3×3 block of 5° grid cells (map-side
        # explode) and joins points on the integer cell key — never an
        # all-pairs cross join, the geo twin of the LSH band join.
        # Exact haversine verify, top-5 per probe on the ROUNDED
        # distance with id tiebreaks so selection is engine-portable.
        cust = _load(spark, sf, "customer")

        def h60(prefix, key):
            return F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.lit(prefix), key.cast("string"))), 1, 15),
                16, 10).cast("bigint")

        def geo(df, key):
            lat = (h60("lat", key) % 120000000).cast("double") \
                / 1000000.0 - 60.0
            lon = (h60("lon", key) % 360000000).cast("double") \
                / 1000000.0 - 180.0
            return df.select(key.alias("id"), lat.alias("lat"),
                             lon.alias("lon"),
                             F.floor(lon / 5).cast("int").alias("cx"),
                             F.floor(lat / 5).cast("int").alias("cy"))
        pts = geo(cust, F.col("c_custkey"))
        sup = _load(spark, sf, "supplier").filter(F.col("s_suppkey") <= 10)
        probes = geo(sup, F.col("s_suppkey")).select(
            F.col("id").alias("probe_id"), F.col("lat").alias("plat"),
            F.col("lon").alias("plon"), "cx", "cy")
        off = F.expr("explode(transform(sequence(-1, 1), x -> x))")
        fan = (probes.select("probe_id", "plat", "plon", "cx", "cy",
                             off.alias("dx"))
               .select("probe_id", "plat", "plon",
                       (F.col("cx") + F.col("dx")).alias("cx"), "cy",
                       off.alias("dy"))
               .select("probe_id", "plat", "plon", "cx",
                       (F.col("cy") + F.col("dy")).alias("cy")))
        cand = fan.join(pts, ["cx", "cy"])
        dphi = F.radians(F.col("lat") - F.col("plat")) / 2
        dlmb = F.radians(F.col("lon") - F.col("plon")) / 2
        a = (F.sin(dphi) * F.sin(dphi)
             + F.cos(F.radians("plat")) * F.cos(F.radians("lat"))
             * F.sin(dlmb) * F.sin(dlmb))
        d = F.round(2.0 * 6371.0 * F.asin(F.sqrt(a)), 6)
        scored = cand.select("probe_id", F.col("id").alias("cust_id"),
                             d.alias("dist_km"))
        wk = Window.partitionBy("probe_id").orderBy(
            F.asc("dist_km"), F.asc("cust_id"))
        return (scored.withColumn("rnk", F.row_number().over(wk))
                .filter(F.col("rnk") <= 5)
                .select("probe_id", "cust_id", "dist_km", "rnk"))

    def s_python_datasource(spark, sf):
        # Spark 4 Python Data Source API (sources/pysource.py): a
        # registered custom connector with REAL driver-side split
        # planning (8 input partitions over the key range) and
        # executor-side generation; the row contract is a pure md5
        # function of the row id, so the oracle replays the ENTIRE
        # source with generate_series + identical hash arithmetic —
        # schema, options, partition planning and per-split reads are
        # what this checks.
        from fashion_knowledge_graph_spark.sources.pysource import (
            register,
        )
        register(spark)
        df = (spark.read.format("fkg_synth")
              .option("n", 2000).option("partitions", 8).load())
        return (df.groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.round(F.sum("score"), 6).alias("score_sum"))
                .orderBy("lang"))

    def f_props_kv_udtf(spark, sf):
        # Spark 4 Python UDTF: a user-defined TABLE function exploding
        # the props JSON into (key, value) rows — the lateral-join
        # generator surface (one UDTF eval per row, rows fan out).
        # The oracle replays the parse with regexp extraction.
        from pyspark.sql.functions import lit, udtf

        @udtf(returnType="k string, v int")
        class KVPairs:
            def eval(self, props: str):
                import json
                if props:
                    for k, v in sorted(json.loads(props).items()):
                        yield k, int(v)

        ev = _load(spark, sf, "events")
        ev.createOrReplaceTempView("__ev_udtf")
        spark.udtf.register("kv_pairs", KVPairs)
        out = spark.sql("""
            SELECT e.event_type, t.k, t.v
            FROM __ev_udtf e, LATERAL kv_pairs(e.props) t
        """)
        return (out.groupBy("event_type", "k")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("v").alias("v_sum")))

    def stream_quality_filter(spark, sf):
        # 2.I stateless streaming transform: the quality gate as an
        # append-mode stream with ZERO state (pure codegen projection
        # + filter — the ingest-time document filter shape); stream ≡
        # batch trivially, oracled by the batch scoring SQL
        from fashion_knowledge_graph_spark.streaming.incremental import (
            stream_quality_filter_once,
        )
        return stream_quality_filter_once(
            spark, os.path.join(sf, "documents.parquet"))

    def stream_static_enrich(spark, sf):
        # 2.I stream-static join: the streaming fact broadcast-joins a
        # batch dimension (slowly-refreshing-dim pattern; a static
        # side is never late, so no watermark), then a stateful
        # per-segment rollup; complete mode ⇒ stream ≡ batch and the
        # plain SQL join+rollup oracle applies
        # (streaming/incremental.py::stream_static_enrich_once)
        from fashion_knowledge_graph_spark.streaming.incremental import (
            stream_static_enrich_once,
        )
        return stream_static_enrich_once(
            spark, os.path.join(sf, "events.parquet"),
            os.path.join(sf, "customer.parquet"))

    def stream_hll_distinct(spark, sf):
        # 2.I × sketches: the HLL register table as REAL Structured
        # Streaming state (64 mergeable max-rank rows per type FOREVER
        # vs unbounded exact-distinct state; max commutes with any
        # micro-batch split, complete mode ⇒ stream ≡ batch, so the
        # BATCH HLL oracle value-hash-checks the streaming run
        # verbatim) — streaming/incremental.py::stream_hll_once
        from fashion_knowledge_graph_spark.streaming.incremental import (
            stream_hll_once,
        )
        return stream_hll_once(
            spark, os.path.join(sf, "events.parquet"))

    def er_fs_link(spark, sf):
        # probabilistic record linkage (Fellegi–Sunter 1969, Winkler
        # EM): q-gram-blocked candidates compared on 3 binary
        # comparators (brand token, edit distance ≤ 1, token count),
        # ONE EM iteration re-estimates (π, m, u) in a single
        # partial-agg'd pass, pairs scored with the learned log2
        # agreement weights (operators/er.py::fs_em_step/fs_score).
        # The oracle replays blocking, E-step (bit-exact literal
        # products), M-step, and weights as one SQL chain.
        from fashion_knowledge_graph_spark.operators.er import (
            fs_em_step, fs_score, fuzzy_join,
        )
        part = _load(spark, sf, "part")
        men2 = _er_dirty_mentions(spark, sf)
        cat = (part.select(F.concat(F.col("p_brand"), F.lit(" "),
                                    F.col("p_name")).alias("cat_name"))
               .distinct()
               .withColumn("cat_id", F.md5(F.col("cat_name"))))
        cand = fuzzy_join(men2, cat, "mention_id", "mention_text",
                          "cat_id", "cat_name",
                          q=3, max_distance=3, max_gram_df=100)
        first_tok = lambda c: F.element_at(F.split(F.col(c), " "), 1)
        n_tok = lambda c: F.size(F.split(F.col(c), " "))
        gcols = ["g1", "g2", "g3"]
        pairs = cand.select(
            "mention_id", "mention_text", "cat_name",
            (first_tok("mention_text") == first_tok("cat_name"))
            .cast("int").alias("g1"),
            (F.col("distance") <= 1).cast("int").alias("g2"),
            (n_tok("mention_text") == n_tok("cat_name"))
            .cast("int").alias("g3"))
        params = fs_em_step(pairs, gcols)
        w = fs_score(pairs, params, gcols)
        return (pairs.select("mention_id", "mention_text", "cat_name",
                             F.round(w, 6).alias("fs_weight"))
                .orderBy(F.desc("fs_weight"), F.asc("mention_id"),
                         F.asc("cat_name"))
                .limit(50))

    def w_interval_union(spark, sf):
        # interval-union length (total ACTIVE time from overlapping
        # activity windows, per user): sweep in start order, a new
        # island begins when start exceeds the running max of prior
        # ends, covered time = Σ per-island (max end − min start) —
        # two windows sharing one per-user sort, exact integer epoch
        # seconds end to end (interval = [ts, ts + ⌊value⌋ s])
        ev = _load(spark, sf, "events")
        iv = ev.select(
            "user_id", "event_id",
            F.unix_timestamp("ts").alias("s"),
            (F.unix_timestamp("ts")
             + F.floor("value").cast("long")).alias("e"))
        w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
        prev_max = F.max("e").over(
            w.rowsBetween(Window.unboundedPreceding, -1))
        flagged = iv.withColumn(
            "is_new",
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
            .otherwise(0))
        isl = flagged.withColumn(
            "island", F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
        per = isl.groupBy("user_id", "island").agg(
            (F.max("e") - F.min("s")).alias("covered"))
        return per.groupBy("user_id").agg(
            F.sum("covered").alias("active_seconds"),
            F.count(F.lit(1)).alias("n_islands"))

    def text_zipf_fit(spark, sf):
        # corpus-law diagnostic: Zipf exponent via closed-form OLS of
        # ln(freq) on ln(rank) over the top-200 terms — ranks from a
        # top-k sweep (TakeOrderedAndProject, ties on term), the fit
        # from five moment sums; slope ≈ −1 is the Zipf signature
        from fashion_knowledge_graph_spark.functions import text as txf
        docs = _load(spark, sf, "documents")             .filter(F.col("text").isNotNull())
        tf = docs.select(F.explode(txf.tokens(F.col("text")))
                         .alias("w"))             .groupBy("w").agg(F.count(F.lit(1)).alias("n"))             .orderBy(F.desc("n"), F.asc("w")).limit(200)
        wr = Window.orderBy(F.desc("n"), F.asc("w"))
        xy = tf.select(
            F.log(F.row_number().over(wr).cast("double")).alias("x"),
            F.log(F.col("n").cast("double")).alias("y"))
        m = xy.agg(F.count(F.lit(1)).alias("k"),
                   F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                   F.sum(F.col("x") * F.col("x")).alias("sxx"),
                   F.sum(F.col("x") * F.col("y")).alias("sxy"))
        kf = F.col("k").cast("double")
        slope = (F.col("sxy") - F.col("sx") * F.col("sy") / kf)             / (F.col("sxx") - F.col("sx") * F.col("sx") / kf)
        intercept = F.col("sy") / kf - slope * F.col("sx") / kf
        return m.select("k", F.round(slope, 6).alias("zipf_slope"),
                        F.round(intercept, 6).alias("intercept"))

    def orders_cohort_ltv(spark, sf):
        # finance view of cohorting: cumulative revenue per customer
        # (LTV curve) by cohort month × age — first-order cohort, one
        # rollup on (cohort, age), a running sum over the tiny curve
        # table; exact DECIMAL revenue, month arithmetic on truncated
        # dates so both engines count whole months identically
        orders = _load(spark, sf, "orders")
        m = F.trunc("o_orderdate", "month")
        first = orders.groupBy("o_custkey").agg(
            F.min(m).alias("cohort"))
        j = orders.join(first, "o_custkey").select(
            "o_custkey", F.col("cohort"),
            F.months_between(m, F.col("cohort")).cast("int")
            .alias("age"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("rev"))
        sizes = first.groupBy("cohort").agg(
            F.countDistinct("o_custkey").alias("n_cust"))
        curve = j.groupBy("cohort", "age").agg(
            F.sum("rev").alias("rev"))
        wc = Window.partitionBy("cohort").orderBy("age")             .rowsBetween(Window.unboundedPreceding, 0)
        return (curve.withColumn("cum", F.sum("rev").over(wc))
                .join(F.broadcast(sizes), "cohort")
                .select(F.date_format("cohort", "yyyy-MM")
                        .alias("cohort"), "age", "n_cust",
                        F.round(F.col("cum").cast("double")
                                / F.col("n_cust"), 6)
                        .alias("ltv_per_customer")))

    def orders_interarrival(spark, sf):
        # demand periodicity: per-customer order inter-arrival gaps
        # (lag window on integer dates — exact day counts), rolled up
        # to per-segment mean/median/max via one broadcast dim join
        orders = _load(spark, sf, "orders")
        cust = _load(spark, sf, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
        w = Window.partitionBy("o_custkey").orderBy(
            "o_orderdate", "o_orderkey")
        gaps = orders.select(
            "o_custkey",
            F.datediff("o_orderdate",
                       F.lag("o_orderdate").over(w)).alias("gap"))             .filter(F.col("gap").isNotNull())
        return (gaps.join(F.broadcast(cust), "o_custkey")
                .groupBy("c_mktsegment")
                .agg(F.count(F.lit(1)).alias("n_gaps"),
                     F.round(F.avg("gap"), 6).alias("mean_gap_days"),
                     F.round(F.expr("percentile(gap, 0.5)"), 4)
                     .alias("median_gap_days"),
                     F.max("gap").alias("max_gap_days")))

    def events_moving_median(spark, sf):
        # robust trailing-7-day median of daily volume per type — the
        # outlier-immune twin of events_ewma_smooth: daily rollup,
        # fan-out into trailing windows (map-side), EXACT percentile
        # per ≤7-row group (both engines interpolate (n+1)/2 the same
        # way on integer counts); only days that exist report
        ev = _load(spark, sf, "events")
        daily = ev.groupBy("event_type",
                           F.to_date("ts").alias("d"))             .agg(F.count(F.lit(1)).alias("n"))
        days = daily.select("event_type",
                            F.col("d").alias("dd")).distinct()
        fan = daily.select(
            "event_type", "n",
            F.explode(F.sequence("d", F.date_add("d", 6)))
            .alias("wd"))
        j = fan.join(days,
                     (fan.event_type == days.event_type)
                     & (fan.wd == days.dd), "left_semi")
        return (j.groupBy("event_type", "wd")
                .agg(F.round(F.expr("percentile(n, 0.5)"), 4)
                     .alias("med7"))
                .select("event_type",
                        F.date_format("wd", "yyyy-MM-dd")
                        .alias("day"), "med7"))

    def events_dow_seasonality(spark, sf):
        # weekly seasonality: day-of-week volume profile + the
        # chi-square uniformity statistic (expected = n/7, exact
        # integer counts inside the ratio)
        ev = _load(spark, sf, "events")
        dow = ev.groupBy(F.dayofweek("ts").alias("dow"))             .agg(F.count(F.lit(1)).alias("n"))
        tot = dow.agg(F.sum("n").alias("t"),
                      F.count(F.lit(1)).alias("k"))
        j = dow.crossJoin(F.broadcast(tot))
        exp = F.col("t").cast("double") / F.col("k")
        chi = F.sum((F.col("n") - exp) * (F.col("n") - exp) / exp)
        prof = j.groupBy("t", "k").agg(
            F.round(chi, 6).alias("chi2_uniformity"))
        return (j.select("dow", "n",
                         F.round(F.col("n") / exp, 6).alias("idx"))
                .crossJoin(F.broadcast(
                    prof.select("chi2_uniformity"))))

    def stat_herfindahl(spark, sf):
        # market-concentration HHI per nation: Σ (supplier share)² of
        # account balance mass — two word-count-shaped rollups, exact
        # DECIMAL shares (complements the Gini query: HHI weights the
        # head, Gini the whole curve)
        sup = _load(spark, sf, "supplier")
        per = sup.groupBy("s_nationkey", "s_suppkey").agg(
            F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
            .alias("bal"))
        tot = per.groupBy("s_nationkey").agg(
            F.sum("bal").alias("tot"),
            F.count(F.lit(1)).alias("n_suppliers"))
        shares = per.join(tot, "s_nationkey").select(
            "s_nationkey", "n_suppliers",
            (F.col("bal").cast("double")
             / F.col("tot").cast("double")).alias("sh"))
        return (shares.groupBy("s_nationkey", "n_suppliers")
                .agg(F.round(F.sum(F.col("sh") * F.col("sh")), 6)
                     .alias("hhi")))

    def q_pareto_coverage(spark, sf):
        # Pareto 80/20: how many customers cover 80% of revenue —
        # cumulative share sweep over the per-customer rollup (exact
        # DECIMAL revenue, deterministic (revenue desc, key) order),
        # reporting the crossing count and its exact cumulative share
        orders = _load(spark, sf, "orders")
        per = orders.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .alias("rev"))
        # cumulative share via the range-partitioned two-pass prefix
        # sum (DECIMAL-exact) — no single-task unpartitioned window
        # over the customer-sized rollup
        from fashion_knowledge_graph_spark.operators.topk import (
            global_prefix_sum,
        )
        tot = per.agg(F.sum("rev").alias("t"))
        cum = (global_prefix_sum(
            per, [F.desc("rev"), F.asc("o_custkey")], "rev", "__c")
            .crossJoin(F.broadcast(tot))
            .select("o_custkey",
                    (F.col("__c").cast("double")
                     / F.col("t").cast("double"))
                    .alias("cum_share")))
        hit = cum.filter(F.col("cum_share") >= 0.8).agg(
            F.min("cum_share").alias("share_at_cross"))
        n80 = cum.filter(F.col("cum_share") < 0.8).agg(
            (F.count(F.lit(1)) + 1).alias("n_customers_80"))
        total_c = per.agg(F.count(F.lit(1)).alias("n_customers"))
        return (n80.crossJoin(hit).crossJoin(total_c)
                .select("n_customers_80", "n_customers",
                        F.round("share_at_cross", 6)
                        .alias("share_at_cross"),
                        F.round(F.col("n_customers_80").cast("double")
                                / F.col("n_customers"), 6)
                        .alias("frac_customers")))

    def events_user_entropy(spark, sf):
        # behavioral diversity: Shannon entropy of each user's
        # event-type distribution — exact integer count ratios inside
        # every ln, one rollup + one per-user aggregation; top-20 most
        # diverse users, ties on user_id
        ev = _load(spark, sf, "events")
        c = ev.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"))
        t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
        p = F.col("n").cast("double") / F.col("tot").cast("double")
        ent = c.join(t, "user_id").groupBy("user_id").agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            F.count(F.lit(1)).alias("n_types"))
        return ent.orderBy(F.desc("entropy"), F.asc("user_id"))             .limit(20)

    def events_max_silence(spark, sf):
        # ops/SLA view: the longest silent gap per event type (lag
        # window on integer epoch seconds, exact), with when it
        # happened — the "did the pipeline stall" primitive
        ev = _load(spark, sf, "events")
        w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        g = ev.select(
            "event_type", "ts",
            (F.unix_timestamp("ts")
             - F.unix_timestamp(F.lag("ts").over(w))).alias("gap"))
        gaps = g.filter(F.col("gap").isNotNull())
        wm = Window.partitionBy("event_type").orderBy(
            F.desc("gap"), F.asc("ts"))
        return (gaps.withColumn("rn", F.row_number().over(wm))
                .filter(F.col("rn") == 1)
                .select("event_type", F.col("gap").alias("max_gap_s"),
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
                        .alias("gap_end")))

    def text_heaps_curve(spark, sf):
        # Heaps'-law vocabulary growth: distinct-token count over 5
        # doc-id-prefix checkpoints, from each token's FIRST document
        # only (one min-aggregate — the curve never rescans the
        # corpus per checkpoint); integer threshold arithmetic is
        # engine-identical
        from fashion_knowledge_graph_spark.functions import text as txf
        docs = _load(spark, sf, "documents")             .filter(F.col("text").isNotNull())
        first = docs.select(
            "doc_id", F.explode(txf.tokens(F.col("text")))
            .alias("w"))             .groupBy("w").agg(F.min("doc_id").alias("fd"))
        mx = docs.agg(F.max("doc_id").alias("m"))
        ck = mx.select(F.explode(F.array(
            *[F.lit(i) for i in range(1, 6)])).alias("i"), "m")             .select("i", ((F.col("i") * (F.col("m") + 1)) / 5)
                    .cast("long").alias("cut"))
        return (first.crossJoin(F.broadcast(ck))
                .groupBy("i", "cut")
                .agg(F.sum((F.col("fd") < F.col("cut")).cast("long"))
                     .alias("vocab"))
                .select(F.col("i").alias("checkpoint"), "cut",
                        "vocab"))

    def text_readability(spark, sf):
        # Flesch-style readability as a quality feature: words from
        # the shared tokenizer, sentences = [.!?] runs in the RAW
        # text (min 1), syllables ≈ vowel groups in the normalized
        # text — every count a codegen'd regexp, the score a pure
        # projection; the classic reading-ease formula
        docs = _load(spark, sf, "documents")             .filter(F.col("text").isNotNull())
        from fashion_knowledge_graph_spark.functions import text as txf
        words = txf.token_count(F.col("text")).cast("double")
        sents = F.greatest(
            F.coalesce(F.regexp_count(F.col("text"),
                                      F.lit("[.!?]+")), F.lit(0)),
            F.lit(1)).cast("double")
        syll = F.greatest(
            F.coalesce(F.regexp_count(txf.norm_text(F.col("text")),
                                      F.lit("[aeiou]+")), F.lit(0)),
            F.lit(1)).cast("double")
        score = (F.lit(206.835) - F.lit(1.015) * (words / sents)
                 - F.lit(84.6) * (syll / words))
        return (docs.select(
            "doc_id", words.cast("long").alias("n_words"),
            sents.cast("long").alias("n_sents"),
            syll.cast("long").alias("n_syll"),
            F.round(score, 6).alias("flesch"))
            .filter(F.col("n_words") > 0))

    def text_ngram_novelty(spark, sf):
        # corpus novelty curve (dedup-adjacent redundancy scoring):
        # per doc, the fraction of its distinct word trigrams FIRST
        # seen in this doc (arrival order = doc_id) — one shingle
        # explode, one min-aggregate over the posting list, exact
        # integer ratios
        from fashion_knowledge_graph_spark.functions import text as txf
        docs = _load(spark, sf, "documents")             .filter(F.col("text").isNotNull())
        sh = docs.select(
            "doc_id",
            F.explode(txf.shingles(F.col("text"), 3)).alias("g"))
        first = sh.groupBy("g").agg(F.min("doc_id").alias("fd"))
        return (sh.join(first, "g")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_grams"),
                     F.sum((F.col("fd") == F.col("doc_id"))
                           .cast("long")).alias("n_novel"))
                .select("doc_id", "n_grams", "n_novel",
                        F.round(F.col("n_novel").cast("double")
                                / F.col("n_grams"), 6)
                        .alias("novelty")))

    def text_burstiness(spark, sf):
        # lexical burstiness: Fano factor (variance/mean of per-doc
        # counts, zero docs included) for the 10 highest-df terms —
        # bursty content words score ≫ 1, uniformly sprinkled function
        # words ≈ 1. Zero-doc inclusion comes free from the moment
        # form (Σc, Σc², N) — no dense doc×term matrix materializes.
        from fashion_knowledge_graph_spark.functions import text as txf
        docs = _load(spark, sf, "documents")             .filter(F.col("text").isNotNull())
        n_docs = docs.count()
        tok = docs.select("doc_id",
                          F.explode(txf.tokens(F.col("text")))
                          .alias("w"))
        per = tok.groupBy("w", "doc_id").agg(
            F.count(F.lit(1)).alias("c"))
        stats = per.groupBy("w").agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("c").alias("sc"),
            F.sum(F.col("c") * F.col("c")).alias("scc"))
        nd = F.lit(float(n_docs))
        mean = F.col("sc") / nd
        var = F.col("scc") / nd - mean * mean
        return (stats
                .select("w", "df",
                        F.round(var / mean, 6).alias("fano"))
                .orderBy(F.desc("df"), F.asc("w")).limit(10))

    def events_stickiness(spark, sf):
        # product-analytics stickiness: DAU / trailing-7-day WAU per
        # day — BOTH distinct counts from one fan-out pass (lag 0 =
        # the DAU window), ratio on exact integers
        ev = _load(spark, sf, "events")
        du = ev.select(F.to_date("ts").alias("day"), "user_id")             .distinct()
        days = du.select(F.col("day").alias("dday")).distinct()
        fan = du.select(
            F.explode(F.sequence("day", F.date_add("day", 6)))
            .alias("wday"), "day", "user_id")
        agg = (fan.join(days, fan.wday == days.dday, "left_semi")
               .groupBy("wday")
               .agg(F.countDistinct("user_id").alias("wau"),
                    F.countDistinct(
                        F.when(F.col("day") == F.col("wday"),
                               F.col("user_id"))).alias("dau")))
        return agg.select(
            F.date_format("wday", "yyyy-MM-dd").alias("day"),
            "dau", "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6)
            .alias("stickiness"))

    def stat_wilson_ci(spark, sf):
        # Wilson score interval for per-type conversion rates — the
        # binomial CI that behaves at small n and extreme p (unlike
        # the Wald interval): closed form from (k, n) integer counts,
        # z = 1.96
        ev = _load(spark, sf, "events")
        g = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") > 500).cast("long")).alias("k"))
        z2 = 1.96 * 1.96
        p = F.col("k").cast("double") / F.col("n")
        denom = 1.0 + z2 / F.col("n")
        center = (p + z2 / (2 * F.col("n"))) / denom
        half = (F.lit(1.96) * F.sqrt(
            p * (1.0 - p) / F.col("n")
            + z2 / (4 * F.col("n") * F.col("n"))) / denom)
        return g.select("event_type", "n", "k",
                        F.round(p, 6).alias("rate"),
                        F.round(center - half, 6).alias("ci_lo"),
                        F.round(center + half, 6).alias("ci_hi"))

    def events_autocorr(spark, sf):
        # time-series diagnostic: lag-1 autocorrelation of the daily
        # volume per event type — one rollup, one lag window on the
        # tiny daily table, moments of the aligned pairs (the
        # Pearson-on-lagged-pairs estimator, exact pair alignment on
        # consecutive calendar days only)
        ev = _load(spark, sf, "events")
        daily = ev.groupBy("event_type",
                           F.to_date("ts").alias("d"))             .agg(F.count(F.lit(1)).alias("n"))
        wl = Window.partitionBy("event_type").orderBy("d")
        lagged = daily.select(
            "event_type", "d", "n",
            F.lag("n").over(wl).alias("pn"),
            F.lag("d").over(wl).alias("pd"))
        pairs = lagged.filter(
            F.col("pn").isNotNull()
            & (F.datediff("d", "pd") == 1))
        m = pairs.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("np"),
            F.sum("n").alias("sx"), F.sum("pn").alias("sy"),
            F.sum(F.col("n") * F.col("n")).alias("sxx"),
            F.sum(F.col("pn") * F.col("pn")).alias("syy"),
            F.sum(F.col("n") * F.col("pn")).alias("sxy"))
        npc = F.col("np").cast("double")
        cov = F.col("sxy") - F.col("sx") * F.col("sy") / npc
        vx = F.col("sxx") - F.col("sx") * F.col("sx") / npc
        vy = F.col("syy") - F.col("sy") * F.col("sy") / npc
        return m.select("event_type", F.col("np").alias("n_pairs"),
                        F.round(cov / F.sqrt(vx * vy), 6)
                        .alias("lag1_autocorr"))

    def a_grouping_sets(spark, sf):
        # explicit GROUPING SETS with the grouping_id disambiguator:
        # ((flag, status), (flag), ()) over lineitem revenue — one
        # Expand + one aggregation, NOT three scans; grouping_id keys
        # NULL-as-grouped vs NULL-as-value apart (exact DECIMAL sums)
        li = _load(spark, sf, "lineitem")
        li.createOrReplaceTempView("__li_gs")
        return spark.sql("""
            SELECT l_returnflag, l_linestatus,
                   grouping(l_returnflag) + 2 * grouping(l_linestatus)
                     AS gid,
                   count(*) AS n,
                   CAST(round(sum(CAST(l_extendedprice
                                       AS DECIMAL(18,2))), 2)
                        AS DOUBLE) AS revenue
            FROM __li_gs
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
        """)

    def stat_welch_ttest(spark, sf):
        # Welch's unequal-variance t-test (purchase vs view values):
        # t and the Welch–Satterthwaite df from TWO moment rows (n,
        # mean, sample variance per group) — one partial-agg'd pass,
        # closed form after
        ev = _load(spark, sf, "events").filter(
            F.col("event_type").isin("purchase", "view"))
        g = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"))
        a = g.filter(F.col("event_type") == "purchase")             .select(F.col("n").alias("n1"), F.col("m").alias("m1"),
                    F.col("v").alias("v1"))
        b = g.filter(F.col("event_type") == "view")             .select(F.col("n").alias("n2"), F.col("m").alias("m2"),
                    F.col("v").alias("v2"))
        j = a.crossJoin(b)
        se1 = F.col("v1") / F.col("n1")
        se2 = F.col("v2") / F.col("n2")
        t = (F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)
        df_ws = ((se1 + se2) * (se1 + se2))             / (se1 * se1 / (F.col("n1") - 1)
               + se2 * se2 / (F.col("n2") - 1))
        return j.select("n1", "n2", F.round(t, 6).alias("t_stat"),
                        F.round(df_ws, 4).alias("df"))

    def events_peak_concurrency(spark, sf):
        # peak concurrency: the classic ±1 boundary sweep — each
        # activity interval [ts, ts+⌊value⌋s) emits (+1 at start, −1
        # at end), ends sort before starts at the same instant (half-
        # open semantics), running sum per type, argmax with
        # deterministic ties; exact integer epochs end to end
        ev = _load(spark, sf, "events")
        st = F.unix_timestamp("ts")
        en = st + F.floor("value").cast("long")
        pts = ev.select("event_type", st.alias("t"),
                        F.lit(1).alias("d"))             .unionByName(ev.select("event_type", en.alias("t"),
                                   F.lit(-1).alias("d")))
        w = Window.partitionBy("event_type").orderBy("t", "d")             .rowsBetween(Window.unboundedPreceding, 0)
        run = pts.withColumn("conc", F.sum("d").over(w))
        wm = Window.partitionBy("event_type").orderBy(
            F.desc("conc"), F.asc("t"))
        return (run.withColumn("rn", F.row_number().over(wm))
                .filter(F.col("rn") == 1)
                .select("event_type",
                        F.col("conc").alias("peak_concurrency"),
                        F.from_unixtime("t", "yyyy-MM-dd HH:mm:ss")
                        .alias("peak_at")))

    def supplier_lead_time(spark, sf):
        # fulfillment datasheet: per-supplier order→ship latency
        # (integer days from the order date to each line's ship
        # date), slow-ship fraction (> 90 days), and volume — the
        # fact-fact join shuffles on orderkey once, the rollup is
        # partial-agg'd; top-20 worst with deterministic ties
        li = _load(spark, sf, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate")
        o = _load(spark, sf, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
        j = li.join(o, "l_orderkey")
        lead = F.datediff("l_shipdate", "o_orderdate")
        m = j.groupBy("l_suppkey").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg(lead), 6).alias("avg_lead_days"),
            F.max(lead).alias("max_lead_days"),
            F.round(F.avg((lead > 90).cast("double")), 6)
            .alias("slow_frac"))
        return m.orderBy(F.desc("slow_frac"), F.desc("n_lines"),
                         F.asc("l_suppkey")).limit(20)

    def stat_grouped_pearson(spark, sf):
        # grouped correlation: Pearson r between part size and retail
        # price per brand, from one pass of exact per-group moments
        # (n, Σx, Σy, Σx², Σy², Σxy — integers and DECIMAL-exact sums)
        part = _load(spark, sf, "part")
        x = F.col("p_size").cast("double")
        y = F.col("p_retailprice").cast("double")
        m = part.groupBy("p_brand").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"), F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
            F.sum(x * y).alias("sxy"))
        nf = F.col("n").cast("double")
        cov = F.col("sxy") - F.col("sx") * F.col("sy") / nf
        vx = F.col("sxx") - F.col("sx") * F.col("sx") / nf
        vy = F.col("syy") - F.col("sy") * F.col("sy") / nf
        return m.select("p_brand", "n",
                        F.round(cov / F.sqrt(vx * vy), 6)
                        .alias("pearson_r"))

    def stat_spearman(spark, sf):
        # Spearman rank correlation between per-user event volume and
        # active-day breadth: tie-aware midranks for BOTH variables
        # via the distinct-value form (rows-before + (ties+1)/2 — the
        # corpus never global-sorts), then Pearson on the ranks
        ev = _load(spark, sf, "events")
        per = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("x"),
            F.countDistinct(F.to_date("ts")).alias("y"))

        def midranks(df, col):
            vc = df.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
            w = Window.orderBy(col)                 .rowsBetween(Window.unboundedPreceding, -1)
            return vc.select(
                col,
                (F.coalesce(F.sum("c").over(w), F.lit(0))
                 .cast("double")
                 + (F.col("c") + 1).cast("double") / 2)
                .alias(f"r_{col}"))
        r = per.join(midranks(per, "x"), "x")                .join(midranks(per, "y"), "y")
        m = r.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("r_x").alias("sx"), F.sum("r_y").alias("sy"),
                  F.sum(F.col("r_x") * F.col("r_x")).alias("sxx"),
                  F.sum(F.col("r_y") * F.col("r_y")).alias("syy"),
                  F.sum(F.col("r_x") * F.col("r_y")).alias("sxy"))
        nf = F.col("n").cast("double")
        cov = F.col("sxy") - F.col("sx") * F.col("sy") / nf
        vx = F.col("sxx") - F.col("sx") * F.col("sx") / nf
        vy = F.col("syy") - F.col("sy") * F.col("sy") / nf
        return m.select("n", F.round(cov / F.sqrt(vx * vy), 6)
                        .alias("spearman_rho"))

    def stat_anova_f(spark, sf):
        # one-way ANOVA across event types: F = (SSB/(k−1))/(SSW/(n−k))
        # from ONE partial-agg'd pass of per-group (n, Σx, Σx²) — the
        # textbook decomposition SSW = Σx² − Σ(Σx)²/n_g, SSB from the
        # same moments; nothing but k moment rows crosses the exchange
        ev = _load(spark, sf, "events")
        g = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum("value").alias("s_g"),
            F.sum(F.col("value") * F.col("value")).alias("ss_g"))
        tot = g.agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("n_g").alias("n"),
            F.sum("s_g").alias("s"),
            F.sum("ss_g").alias("ss"),
            F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g"))
            .alias("sq"))
        ssb = F.col("sq") - F.col("s") * F.col("s") / F.col("n")
        ssw = F.col("ss") - F.col("sq")
        fstat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n")
                                                   - F.col("k")))
        return tot.select(
            "k", "n", F.round(ssb, 4).alias("ss_between"),
            F.round(ssw, 4).alias("ss_within"),
            F.round(fstat, 6).alias("f_stat"))

    def stat_mannwhitney_u(spark, sf):
        # Mann–Whitney U (purchase vs view values): midrank per tied
        # value = rows-before + (ties+1)/2, computed on the DISTINCT-
        # VALUE table — one partial-agg'd rollup shuffles the corpus,
        # the only global sort sees |distinct values| rows (the oracle
        # ranks every row with (min+max)/2 windows instead — same
        # midranks exactly, a cross-formulation check). U and the
        # normal-approximation z.
        ev = _load(spark, sf, "events").filter(
            F.col("event_type").isin("purchase", "view"))
        vc = ev.groupBy("value").agg(
            F.count(F.lit(1)).alias("n_all"),
            F.sum((F.col("event_type") == "purchase").cast("long"))
            .alias("n_p"))
        wv = Window.orderBy("value") \
            .rowsBetween(Window.unboundedPreceding, -1)
        mid = (F.coalesce(F.sum("n_all").over(wv), F.lit(0))
               .cast("double")
               + (F.col("n_all") + 1).cast("double") / 2)
        tg = vc.select("n_all", "n_p", mid.alias("midrank")) \
            .groupBy().agg(
                F.sum(F.col("n_p") * F.col("midrank")).alias("r1"),
                F.sum("n_p").alias("n1"),
                F.sum(F.col("n_all") - F.col("n_p")).alias("n2"))
        u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2
        mu = F.col("n1") * F.col("n2") / 2
        sigma = F.sqrt(F.col("n1") * F.col("n2")
                       * (F.col("n1") + F.col("n2") + 1) / 12.0)
        return tg.select(
            "n1", "n2", F.round(u1, 4).alias("u1"),
            F.round((u1 - mu) / sigma, 6).alias("z"))

    def stat_eb_shrinkage(spark, sf):
        # empirical-Bayes rate smoothing (beta-binomial, the CTR
        # denoiser): per-user purchase rates shrunk toward the corpus
        # prior fit by method of moments on the observed rates —
        # (k+α)/(n+α+β). One rollup pass + a 2-row broadcast prior;
        # low-volume users move most, exactly the James–Stein story.
        ev = _load(spark, sf, "events")
        per = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .alias("k"))
        rates = per.withColumn(
            "p", F.col("k").cast("double") / F.col("n"))
        mom = rates.agg(F.avg("p").alias("m"),
                        F.var_pop("p").alias("v"))
        common = (F.col("m") * (1.0 - F.col("m")) / F.col("v")) - 1.0
        prior = mom.select(
            F.col("m"), F.col("v"),
            F.when(F.col("v") > 0, F.col("m") * common).alias("alpha"),
            F.when(F.col("v") > 0, (1.0 - F.col("m")) * common)
            .alias("beta"))
        shrunk = F.when(
            F.col("alpha").isNotNull(),
            (F.col("k") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta"))
        ).otherwise(F.col("p"))
        return (rates.crossJoin(F.broadcast(prior))
                .select("user_id", "n", "k",
                        F.round("p", 6).alias("raw_rate"),
                        F.round(shrunk, 6).alias("eb_rate")))

    def sketch_hll_distinct(spark, sf):
        # the canonical distinct-count sketch, bit-replayable:
        # HyperLogLog with m=64 registers over the portable 60-bit md5
        # (j = h mod 64, w = h div 64 in 54 bits, rank = 54 −
        # bitlen(w) + 1 via length(bin(w)) — INTEGER leading-zero
        # count, no float log2 boundary). Registers are a per-type
        # max aggregate (mergeable state, word-count-shaped); the full
        # 64-register grid is fanned in so empty registers contribute
        # 2^0 and count toward the small-range correction V. Estimate
        # α·m²/Σ2^(−M_j) with linear counting below 2.5m, next to the
        # exact companion.
        ev = _load(spark, sf, "events")
        h = F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.lit("hll"), F.col("user_id").cast("string"))),
            1, 15), 16, 10).cast("bigint")
        hashed = ev.select("event_type", h.alias("h")).select(
            "event_type", (F.col("h") % 64).cast("int").alias("j"),
            # integer div — floor(h/64.0) would round through a double
            # and corrupt hashes above 2^53
            F.expr("h div 64").alias("w"))
        rank = F.when(F.col("w") == 0, F.lit(55)).otherwise(
            54 - F.length(F.bin("w")) + 1).cast("int")
        regs = hashed.select("event_type", "j", rank.alias("r")) \
            .groupBy("event_type", "j").agg(F.max("r").alias("m_j"))
        grid = (regs.select("event_type").distinct()
                .crossJoin(spark.range(64)
                           .select(F.col("id").cast("int").alias("j"))))
        full = grid.join(regs, ["event_type", "j"], "left") \
            .fillna(0, subset=["m_j"])
        agg = full.groupBy("event_type").agg(
            F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z"),
            F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0))
            .alias("v"))
        raw = F.lit(0.709 * 64.0 * 64.0) / F.col("z")
        est = F.when((raw <= 2.5 * 64) & (F.col("v") > 0),
                     F.lit(64.0) * F.log(F.lit(64.0)
                                         / F.col("v"))).otherwise(raw)
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n_exact"))
        return (agg.join(exact, "event_type")
                .select("event_type", "n_exact", "v",
                        F.round(est, 4).alias("hll_est")))

    def ml_calibration_bins(spark, sf):
        # classifier evaluation: reliability diagram of the 2-step
        # IRLS fit — score every row with the learned β, bin predicted
        # p into 10 fixed buckets, report per-bin volume, mean
        # prediction, and observed positive rate (exact integer
        # ratio). Scoring is one codegen'd map pass; the oracle
        # re-derives β through the same unrolled Newton SQL and bins
        # identically.
        from fashion_knowledge_graph_spark.operators.regression import (
            logreg_irls,
        )
        ev = _load(spark, sf, "events").select(
            (F.col("event_type") == "purchase").cast("double")
            .alias("y"),
            (F.col("value") / F.lit(100.0)).alias("x1"),
            (F.hour("ts") / F.lit(24.0)).alias("x2"))
        fit = {r["step"]: r for r in
               logreg_irls(ev, "y", "x1", "x2", n_iter=2).collect()}
        b0, b1, b2 = (fit[2]["b0"], fit[2]["b1"], fit[2]["b2"])
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(
            -(F.lit(b0) + F.lit(b1) * F.col("x1")
              + F.lit(b2) * F.col("x2"))))
        return (ev.select("y", p.alias("p"))
                .groupBy(F.least(F.floor(F.col("p") * 10), F.lit(9))
                         .cast("int").alias("bin"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.avg("p"), 6).alias("mean_p"),
                     F.round(F.sum("y") / F.count(F.lit(1)), 6)
                     .alias("frac_pos")))

    def ml_psi_drift(spark, sf):
        # model/feature monitoring: population-stability index of the
        # value distribution, first-15-days reference vs the rest,
        # per event type. Fixed 10-bucket binning (value/100 clamped),
        # add-one smoothing over the FULL bin grid (types × 10 bins
        # fanned in so empty bins still contribute their smoothed
        # term), PSI = Σ (p−q)·ln(p/q). Two word-count-shaped passes;
        # the bin grid is dim-sized and broadcast.
        ev = _load(spark, sf, "events")
        split = ev.agg(F.date_add(F.min(F.to_date("ts")), 15)
                       .alias("cut"))
        binned = ev.crossJoin(F.broadcast(split)).select(
            "event_type",
            F.least(F.floor(F.col("value") / 100), F.lit(9))
            .cast("int").alias("bin"),
            F.when(F.to_date("ts") < F.col("cut"), 1).otherwise(0)
            .alias("is_ref"))
        counts = binned.groupBy("event_type", "bin").agg(
            F.sum("is_ref").alias("r_b"),
            F.sum(1 - F.col("is_ref")).alias("c_b"))
        grid = (binned.select("event_type").distinct()
                .crossJoin(spark.range(10)
                           .select(F.col("id").cast("int")
                                   .alias("bin"))))
        full = grid.join(counts, ["event_type", "bin"], "left") \
            .fillna(0, subset=["r_b", "c_b"])
        tot = full.groupBy("event_type").agg(
            F.sum("r_b").alias("r_tot"), F.sum("c_b").alias("c_tot"))
        p = (F.col("r_b") + 1).cast("double") / (F.col("r_tot") + 10)
        q = (F.col("c_b") + 1).cast("double") / (F.col("c_tot") + 10)
        term = (p - q) * F.log(p / q)
        return (full.join(F.broadcast(tot), "event_type")
                .groupBy("event_type")
                .agg(F.round(F.sum(term), 6).alias("psi"))
                .select("event_type", "psi",
                        (F.col("psi") > 0.2).alias("drift")))

    def ml_ks_drift(spark, sf):
        # two-sample Kolmogorov–Smirnov drift test on the value
        # distribution (same ref/current split as ml_psi_drift):
        # D = max_v |F_ref(v) − F_cur(v)| via per-(type, value) counts
        # + one running-sum window over distinct values — every ratio
        # is exact-integer-over-integer so both engines compute
        # bit-identical CDF gaps. Rejects at the α=0.05 large-sample
        # critical value 1.358·√((n+m)/(n·m)).
        ev = _load(spark, sf, "events")
        split = ev.agg(F.date_add(F.min(F.to_date("ts")), 15)
                       .alias("cut"))
        marked = ev.crossJoin(F.broadcast(split)).select(
            "event_type", "value",
            F.when(F.to_date("ts") < F.col("cut"), 1).otherwise(0)
            .alias("is_ref"))
        pv = marked.groupBy("event_type", "value").agg(
            F.sum("is_ref").alias("r"),
            F.sum(1 - F.col("is_ref")).alias("c"))
        wrun = Window.partitionBy("event_type").orderBy("value") \
            .rowsBetween(Window.unboundedPreceding, 0)
        tot = Window.partitionBy("event_type")
        gap = F.abs(F.sum("r").over(wrun).cast("double")
                    / F.sum("r").over(tot)
                    - F.sum("c").over(wrun).cast("double")
                    / F.sum("c").over(tot))
        stat = pv.select("event_type",
                         gap.alias("g"),
                         F.sum("r").over(tot).alias("n"),
                         F.sum("c").over(tot).alias("m"))
        return (stat.groupBy("event_type", "n", "m")
                .agg(F.max("g").alias("d"))
                .select("event_type",
                        F.round(F.col("d"), 6).alias("ks_d"),
                        (F.col("d") > 1.358 * F.sqrt(
                            (F.col("n") + F.col("m")).cast("double")
                            / (F.col("n") * F.col("m"))))
                        .alias("drift")))

    def events_ewma_smooth(spark, sf):
        # truncated exponentially-weighted moving average of the
        # daily volume per event type (pandas ewm(adjust=True) shape,
        # window 14, α=0.3): the rollup is the only corpus-sized pass;
        # smoothing is a banded self-join on datediff ∈ [0,13] over
        # the ~|days|·|types| daily table with closed-form weights
        # pow(0.7, lag) — no recursion, no window state
        ev = _load(spark, sf, "events")
        daily = ev.groupBy("event_type",
                           F.to_date("ts").alias("d")) \
            .agg(F.count(F.lit(1)).alias("n"))
        a = daily.select("event_type", F.col("d").alias("da"))
        b = daily.select(F.col("event_type").alias("et2"),
                         F.col("d").alias("db"), "n")
        lag = F.datediff("da", "db")
        w = F.pow(F.lit(0.7), lag)
        return (a.join(b, (a.event_type == b.et2)
                       & (lag >= 0) & (lag <= 13))
                .groupBy("event_type", "da")
                .agg(F.round(F.sum(w * F.col("n")) / F.sum(w), 6)
                     .alias("ewma"))
                .select("event_type",
                        F.date_format("da", "yyyy-MM-dd").alias("day"),
                        "ewma"))

    def events_cusum_changepoint(spark, sf):
        # one-sided CUSUM change-point statistic over daily volumes:
        # S_d = max_{k≤d} Σ_{i=k..d}(x_i − mean − slack) computed in
        # CLOSED FORM as cumsum_d − min(0, running-min of cumsum) —
        # two windows over one per-type partitioning, no recursion.
        # Flags days where the drift statistic exceeds h = 3·stddev.
        ev = _load(spark, sf, "events")
        daily = ev.groupBy("event_type",
                           F.to_date("ts").alias("d")) \
            .agg(F.count(F.lit(1)).alias("n"))
        stats = daily.groupBy("event_type").agg(
            F.avg("n").alias("mu"), F.stddev_pop("n").alias("sd"))
        wrun = Window.partitionBy("event_type").orderBy("d") \
            .rowsBetween(Window.unboundedPreceding, 0)
        y = F.col("n") - F.col("mu") - 0.5 * F.col("sd")
        cs = F.sum(y).over(wrun)
        joined = daily.join(F.broadcast(stats), "event_type") \
            .withColumn("cs", cs)
        smin = F.min(F.least(F.col("cs"), F.lit(0.0))).over(wrun)
        stat = F.col("cs") - smin
        return (joined.select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round(stat, 6).alias("cusum"),
            (stat > 3.0 * F.col("sd")).alias("drift")))

    def dq_k_anonymity(spark, sf):
        # privacy audit before data release: equivalence classes over
        # the quasi-identifier (event_type, day) with k-anonymity
        # (class size ≥ 25) and l-diversity (≥ 10 distinct sensitive
        # user_ids) verdicts — ONE partial-agg'd pass; at 10^12 rows
        # this is a word-count-shaped plan
        ev = _load(spark, sf, "events")
        return (ev.groupBy("event_type",
                           F.to_date("ts").alias("d"))
                .agg(F.count(F.lit(1)).alias("class_size"),
                     F.countDistinct("user_id").alias("n_sensitive"))
                .select("event_type",
                        F.date_format("d", "yyyy-MM-dd").alias("day"),
                        "class_size", "n_sensitive",
                        (F.col("class_size") >= 25).alias("k25_ok"),
                        (F.col("n_sensitive") >= 10).alias("l10_ok")))

    def dp_noisy_counts(spark, sf):
        # DP-SHAPED noisy release (mechanism plumbing, not privacy:
        # the Laplace draw is a DETERMINISTIC md5 inverse-CDF so the
        # oracle replays it bit-for-bit; swap in a real RNG for
        # production): per (event_type, day) count + Laplace(1/ε)
        # noise, ε=1 — count from one partial-agg'd pass, noise a
        # pure codegen expression of the group key
        ev = _load(spark, sf, "events")
        g = ev.groupBy("event_type", F.to_date("ts").alias("d")) \
            .agg(F.count(F.lit(1)).alias("n"))
        key = F.concat_ws(":", F.lit("dp"), F.col("event_type"),
                          F.col("d").cast("string"))
        u = ((F.conv(F.substring(F.md5(key), 1, 15), 16, 10)
              .cast("bigint") % 1000000000).cast("double")
             + 0.5) / 1000000000.0
        s = u - 0.5
        noise = -F.signum(s) * F.log(1.0 - 2.0 * F.abs(s))  # b = 1/ε = 1
        return g.select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round(F.col("n") + noise, 6).alias("noisy_n"))

    def ml_logreg_irls(spark, sf):
        # quality-classifier training (the GPT-3-style LR filter),
        # Spark-first: 2 IRLS/Newton iterations, each ONE map-side-
        # combined 9-moment pass (X'WX + X'(y-p)); the 3×3 Cramer
        # solve runs on the driver (operators/regression.py). Output =
        # the full optimization trace; the oracle replays both Newton
        # steps as unrolled SQL with the identical association order.
        from fashion_knowledge_graph_spark.operators.regression import (
            logreg_irls,
        )
        ev = _load(spark, sf, "events").select(
            (F.col("event_type") == "purchase").cast("double")
            .alias("y"),
            (F.col("value") / F.lit(100.0)).alias("x1"),
            (F.hour("ts") / F.lit(24.0)).alias("x2"))
        fit = logreg_irls(ev, "y", "x1", "x2", n_iter=2)
        return fit.select("step", F.round("b0", 6).alias("b0"),
                          F.round("b1", 6).alias("b1"),
                          F.round("b2", 6).alias("b2"))

    def events_rolling_distinct_users(spark, sf):
        # exact sliding-window COUNT DISTINCT (7-day active users):
        # the fan-out form — each (day, user) contributes itself to
        # the 7 windows it falls in (sequence+explode, map-side), then
        # one groupBy(window_day) distinct count. This is the shape
        # that scales: no per-day user arrays in window state, no
        # quadratic self-join; restricted to days that actually occur.
        ev = _load(spark, sf, "events")
        du = ev.select(F.to_date("ts").alias("day"), "user_id") \
            .distinct()
        days = du.select("day").distinct()
        fan = du.select(
            F.explode(F.sequence("day", F.date_add("day", 6)))
            .alias("wday"), "user_id")
        return (fan.join(days, fan.wday == days.day, "left_semi")
                .groupBy("wday")
                .agg(F.countDistinct("user_id").alias("users_7d"))
                .select(F.date_format("wday", "yyyy-MM-dd")
                        .alias("day"), "users_7d"))

    def mm_phash_near_dup(spark, sf):
        # IMAGE near-dup dedup: 64-bit mean-threshold perceptual hash
        # over exact scaled-integer pooled pixel sums (bit-identical
        # across engines — no float sign boundaries), 4×16-bit banded
        # LSH candidates, exact Hamming verify ≤ 8
        # (operators/multimodal.py). Input = clustered synthetic media
        # (base payload per id%40 + one perturbed nibble); the oracle
        # replays content bytes, pooling, bit packing, banding, and
        # popcount verification end-to-end in SQL.
        from fashion_knowledge_graph_spark.operators import multimodal as mm
        docs = _load(spark, sf, "documents").filter(F.col("doc_id") < 200)
        media = mm.synthesize_media_clustered(docs)
        codes = mm.phash64(mm.pixel_pool_sums(media))
        return mm.phash_near_dup(codes, max_hamming=8)

    def tok_bpe_learn_merges(spark, sf):
        # the ITERATIVE BPE learner itself, driver-oracled: 3 learned
        # merges (step, a, b, pair_count). Spark runs the real loop
        # (pair-count top-1 → codegen'd array-fold merge over the
        # distributed vocab, operators/tokenizer.py); the oracle
        # replays it as 3 unrolled SQL stages where each merge
        # application is a per-word recursive CTE splicing out the
        # leftmost occurrence until none remains — provably equal to
        # the left-to-right non-overlapping pass (a merge never
        # creates a new occurrence of its own pair to either side).
        from fashion_knowledge_graph_spark.operators.tokenizer import (
            learn_bpe,
        )
        merges = learn_bpe(_load(spark, sf, "documents"), 3)
        return spark.createDataFrame(
            [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
            "step int, a string, b string, pair_count long")

    def tok_bpe_segment_corpus(spark, sf):
        # the learned tokenizer APPLIED: segment the corpus vocabulary
        # with the 3 learned merges (codegen'd array folds) and report
        # the top-10 frequency-weighted subword tokens — train AND
        # apply, both driver-oracled (the oracle re-learns the merges
        # through the same unrolled recursive replay and segments
        # identically).
        from fashion_knowledge_graph_spark.operators.tokenizer import (
            apply_merges, learn_bpe, word_freqs,
        )
        docs = _load(spark, sf, "documents")
        merges = learn_bpe(docs, 3)
        vocab = word_freqs(docs).select(
            F.expr("transform(sequence(1, length(w)), "
                   "i -> substring(w, i, 1))").alias("syms"),
            "freq")
        seg = apply_merges(vocab, merges)
        return (seg.select(F.explode("syms").alias("tok"), "freq")
                .groupBy("tok")
                .agg(F.sum("freq").cast("long").alias("n"))
                .orderBy(F.desc("n"), F.asc("tok")).limit(10))

    def select_dsir_weights(spark, sf):
        # DSIR-shaped data selection (Xie et al. 2023): hashed-unigram
        # importance weights log p_target(doc)/p_raw(doc), target =
        # the English slice, features = portable-md5 buckets (same
        # 60-bit hash family as domain_mix_split, so the oracle
        # replays the bucketing bit-for-bit). Two token passes build
        # the two 64-row bucket histograms; per-doc scoring is one
        # broadcast join + partial-agg'd groupBy — no shuffle grows
        # with vocabulary. Top-50 docs by weight, ties on doc_id.
        from fashion_knowledge_graph_spark.operators.selection import (
            dsir_log_weights,
        )
        docs = _load(spark, sf, "documents")
        return dsir_log_weights(
            docs, target_pred=(F.col("lang") == "en"),
            buckets=64, salt="dsir", k=50)

    def rlhf_preference_pairs(spark, sf):
        # preference-pair construction for reward-model training over
        # implicit feedback: per user, (chosen, rejected) = the
        # highest- vs lowest-value event, deterministic ties on
        # event_id, kept only when a strict margin exists. Catalyst
        # pushes the rank filter into WindowGroupLimit on BOTH sides
        # (map-side top-1 per user BEFORE each exchange), so the
        # shuffles move ~n_users rows, not all events, and the final
        # join broadcasts — verified in the executed plan.
        ev = _load(spark, sf, "events")
        w_hi = Window.partitionBy("user_id").orderBy(
            F.desc("value"), F.asc("event_id"))
        w_lo = Window.partitionBy("user_id").orderBy(
            F.asc("value"), F.asc("event_id"))
        r = ev.select(
            "user_id", "event_id", "value",
            F.row_number().over(w_hi).alias("rhi"),
            F.row_number().over(w_lo).alias("rlo"))
        chosen = r.filter(F.col("rhi") == 1).select(
            "user_id", F.col("event_id").alias("chosen_id"),
            F.col("value").alias("cv"))
        rejected = r.filter(F.col("rlo") == 1).select(
            "user_id", F.col("event_id").alias("rejected_id"),
            F.col("value").alias("rv"))
        return (chosen.join(rejected, "user_id")
                .filter(F.col("cv") > F.col("rv"))
                .select("user_id", "chosen_id", "rejected_id",
                        F.round(F.col("cv") - F.col("rv"), 6)
                        .alias("margin")))

    def text_ppl_buckets(spark, sf):
        # CCNet-style head/middle/tail corpus split: per-language
        # ntile(3) over the unigram-LM doc score (high mean_logp =
        # low perplexity = head). Scores are rounded BEFORE ranking
        # and ties break on doc_id, so the bucket assignment is
        # engine-portable; the oracle replays the LM, the ntile, and
        # the per-bucket rollup.
        from fashion_knowledge_graph_spark.functions import text as txf
        docs = _load(spark, sf, "documents") \
            .filter(F.col("text").isNotNull())
        tok = docs.select("doc_id", "lang",
                          F.explode(txf.tokens(F.col("text")))
                          .alias("w"))
        uc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
        totals = uc.agg(F.sum("c_w").alias("n_tok"),
                        F.count(F.lit(1)).alias("vocab"))
        logp = F.log((F.col("c_w") + 1).cast("double")
                     / (F.col("n_tok") + F.col("vocab")).cast("double"))
        scored = (tok.join(uc, "w").crossJoin(F.broadcast(totals))
                  .groupBy("doc_id", "lang")
                  .agg(F.round(F.sum(logp) / F.count(F.lit(1)), 6)
                       .alias("mean_logp")))
        wb = Window.partitionBy("lang").orderBy(
            F.desc("mean_logp"), F.asc("doc_id"))
        return (scored.select("lang", "mean_logp",
                              F.ntile(3).over(wb).alias("ppl_bucket"))
                .groupBy("lang", "ppl_bucket")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.round(F.avg("mean_logp"), 6).alias("avg_logp")))

    return {
        "p2_anti_join": p2_anti_join,
        "j1_broadcast_enrich": j1_broadcast_enrich,
        "j6_cooccurrence_edges": j6_cooccurrence_edges,
        "w2_topk_per_group": w2_topk_per_group,
        "a5_stratified_sample": a5_stratified_sample,
        "a7_keep_first_per_key": a7_keep_first_per_key,
        "a8_rrf_fusion": a8_rrf_fusion,
        "q1_pricing_summary": q1_pricing_summary,
        "f_scalar_functions": f_scalar_functions,
        "f4_json_extract": f4_json_extract,
        "m7_spec_attrs": m7_spec_attrs,
        "s9_delete_where": s9_delete_where,
        "j_dim_chain_agg": j_dim_chain_agg,
        "s11_index_stats": s11_index_stats,
        "mm_feature_extract": mm_feature_extract,
        "mm_media_meta": mm_media_meta,
        "mm_resize_plan": mm_resize_plan,
        "mm_frame_plan": mm_frame_plan,
        "mm_audio_chunk_plan": mm_audio_chunk_plan,
        "u1_union_distinct": u1_union_distinct,
        "a2_collect_sorted": a2_collect_sorted,
        "events_tumbling_agg": events_tumbling_agg,
        "stream_windowed_agg": stream_windowed_agg,
        "stream_view_purchase_join": stream_view_purchase_join,
        "asof_attribution": asof_attribution,
        "funnel_view_click_purchase": funnel_view_click_purchase,
        "graph_kcore": graph_kcore,
        "graph_bfs_distances": graph_bfs_distances,
        "graph_harmonic_centrality": graph_harmonic_centrality,
        "graph_betweenness": graph_betweenness,
        "graph_ktruss": graph_ktruss,
        "graph_luby_mis": graph_luby_mis,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "rfm_segments": rfm_segments,
        "part_brand_margin": part_brand_margin,
        "q3_shipping_priority": q3_shipping_priority,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q14_promo_share": q14_promo_share,
        "q18_large_orders": q18_large_orders,
        "q7_nation_volume": q7_nation_volume,
        "q4_order_priority": q4_order_priority,
        "q10_returned_items": q10_returned_items,
        "q13_order_count_distribution": q13_order_count_distribution,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q19_disjunct_revenue": q19_disjunct_revenue,
        "q22_idle_rich_customers": q22_idle_rich_customers,
        "q2_min_price_supplier": q2_min_price_supplier,
        "q11_value_concentration": q11_value_concentration,
        "q12_priority_by_delay": q12_priority_by_delay,
        "q8_market_share": q8_market_share,
        "q9_profit_by_nation_year": q9_profit_by_nation_year,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_part_counts": q16_supplier_part_counts,
        "q20_dominant_suppliers": q20_dominant_suppliers,
        "q21_late_sole_shippers": q21_late_sole_shippers,
        "market_basket_lift": market_basket_lift,
        "supplier_balance_deciles": supplier_balance_deciles,
        "asof_attribution_cogroup": asof_attribution_cogroup,
        "range_join_attribution": range_join_attribution,
        "sessionize_events": sessionize_events,
        "stream_sessionize_closed": stream_sessionize_closed,
        "stream_dedup_distinct": stream_dedup_distinct,
        "stream_merge_upsert": stream_merge_upsert,
        "f9_content_ids": f9_content_ids,
        "text_token_stats": text_token_stats,
        "text_quality": text_quality,
        "text_lang_id": text_lang_id,
        "text_langid_confusion": text_langid_confusion,
        "text_fingerprint": text_fingerprint,
        "dedup_exact": dedup_exact,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_jaccard_prefix": dedup_jaccard_prefix,
        "dedup_dup_spans": dedup_dup_spans,
        "decontam_overlap": decontam_overlap,
        "domain_mix_split": domain_mix_split,
        "text_quality_gate": text_quality_gate,
        "text_pmi_collocations": text_pmi_collocations,
        "text_lm_score": text_lm_score,
        "text_bigram_lm": text_bigram_lm,
        "text_bm25_topk": text_bm25_topk,
        "hybrid_search_rrf": hybrid_search_rrf,
        "corpus_stats_card": corpus_stats_card,
        "funnel_conversion_rates": funnel_conversion_rates,
        "ab_experiment_lift": ab_experiment_lift,
        "events_daily_anomaly": events_daily_anomaly,
        "weighted_doc_sample": weighted_doc_sample,
        "events_cohort_retention": events_cohort_retention,
        "emb_quantize_int8": emb_quantize_int8,
        "ann_int8_topk": ann_int8_topk,
        "ann_int8_ranking_eval": ann_int8_ranking_eval,
        "ann_hard_negatives": ann_hard_negatives,
        "zorder_events_key": zorder_events_key,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_minhash_incremental": dedup_minhash_incremental,
        "dedup_minhash_estimate": dedup_minhash_estimate,
        "dedup_simhash": dedup_simhash,
        "dedup_clusters": dedup_clusters,
        "embedding_near_dup": embedding_near_dup,
        "cluster_dbscan": cluster_dbscan,
        "semdedup_pairs": semdedup_pairs,
        "ann_cosine_topk": ann_cosine_topk,
        "emb_anisotropy": emb_anisotropy,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_ivf_topk": ann_ivf_topk,
        "w5_top1_then_threshold": w5_top1_then_threshold,
        "kg_triples": kg_triples,
        "kg_edges": kg_edges,
        "kg_canonical": kg_canonical,
        "kg_canonical_incremental": kg_canonical_incremental,
        "kg_edges_incremental": kg_edges_incremental,
        "kg_complete_the_look": kg_complete_the_look,
        "kg_2hop_recs": kg_2hop_recs,
        "kg_negative_samples": kg_negative_samples,
        "kg_pred_stats": kg_pred_stats,
        "kg_star_join": kg_star_join,
        "kg_taxonomy_closure": kg_taxonomy_closure,
        "kg_rdfs_entailment": kg_rdfs_entailment,
        "kg_shacl_report": kg_shacl_report,
        "kg_symmetric_closure": kg_symmetric_closure,
        "kg_bgp_query": kg_bgp_query,
        "kg_open_ie": kg_open_ie,
        "kg_property_path": kg_property_path,
        "kg_path_expr": kg_path_expr,
        "kg_path_negset": kg_path_negset,
        "kg_quotient_graph": kg_quotient_graph,
        "kg_truth_discovery": kg_truth_discovery,
        "kg_rdb_direct_map": kg_rdb_direct_map,
        "kg_pra_features": kg_pra_features,
        "kg_wl_colors": kg_wl_colors,
        "kg_domain_range": kg_domain_range,
        "kg_node2vec_walks": kg_node2vec_walks,
        "kg_entity_summary": kg_entity_summary,
        "kg_attr_history": kg_attr_history,
        "kg_rule_mining": kg_rule_mining,
        "kg_neo4j_export": kg_neo4j_export,
        "kg_ntriples": kg_ntriples,
        "kg_attr_association": kg_attr_association,
        "kg_source_reliability": kg_source_reliability,
        "kg_rdfstar_annotations": kg_rdfstar_annotations,
        "kg_repair_suggestions": kg_repair_suggestions,
        "er_meta_blocking": er_meta_blocking,
        "er_canonical_eval": er_canonical_eval,
        "kg_linking_accuracy": kg_linking_accuracy,
        "kg_graphsage_sample": kg_graphsage_sample,
        "kg_asof_state": kg_asof_state,
        "kg_describe": kg_describe,
        "kg_graph_diff": kg_graph_diff,
        "kg_predicate_coverage": kg_predicate_coverage,
        "kg_sameas_fusion": kg_sameas_fusion,
        "kg_taxonomy_rollup": kg_taxonomy_rollup,
        "kg_forward_chain": kg_forward_chain,
        "kg_open_ie_link": kg_open_ie_link,
        "kg_bgp_negation": kg_bgp_negation,
        "kg_bgp_aggregate": kg_bgp_aggregate,
        "kg_bgp_topk": kg_bgp_topk,
        "kg_bgp_values": kg_bgp_values,
        "kg_negative_samples": kg_negative_samples,
        "kg_transe_eval": kg_transe_eval,
        "kg_transe_sampled": kg_transe_sampled,
        "kg_motif_wedge": kg_motif_wedge,
        "docs_span_audit": docs_span_audit,
        "kg_mention_gates": kg_mention_gates,
        "kg_ctl_filtered": kg_ctl_filtered,
        "kg_lineage_metrics": kg_lineage_metrics,
        "kg_outfit_from_text": kg_outfit_from_text,
        "kg_outfit_from_image": kg_outfit_from_image,
        "text_pii_redact": text_pii_redact,
        "text_chunking": text_chunking,
        "events_session_window": events_session_window,
        "attribution_position": attribution_position,
        "stat_cuped": stat_cuped,
        "stat_did": stat_did,
        "stat_bootstrap_ci": stat_bootstrap_ci,
        "text_repetition": text_repetition,
        "tfidf_top_terms": tfidf_top_terms,
        "graph_pagerank": graph_pagerank,
        "graph_lpa_communities": graph_lpa_communities,
        "graph_ppr_recs": graph_ppr_recs,
        "graph_clustering_coeff": graph_clustering_coeff,
        "graph_sssp_weighted": graph_sssp_weighted,
        "graph_hits_bipartite": graph_hits_bipartite,
        "sketch_kmv_distinct": sketch_kmv_distinct,
        "sketch_cms_bigrams": sketch_cms_bigrams,
        "domain_mix_temperature": domain_mix_temperature,
        "emb_pca_project": emb_pca_project,
        "events_markov_transitions": events_markov_transitions,
        "text_char_entropy": text_char_entropy,
        "sketch_histogram_quantiles": sketch_histogram_quantiles,
        "events_time_decay": events_time_decay,
        "ann_pq_adc_topk": ann_pq_adc_topk,
        "j_skew_key_profile": j_skew_key_profile,
        "events_session_paths": events_session_paths,
        "ann_ivfpq_topk": ann_ivfpq_topk,
        "s_csv_roundtrip": s_csv_roundtrip,
        "stream_cms_heavy_hitters": stream_cms_heavy_hitters,
        "graph_modularity": graph_modularity,
        "s_rollback": s_rollback,
        "ann_matryoshka_topk": ann_matryoshka_topk,
        "ann_matryoshka_recall": ann_matryoshka_recall,
        "a_unpivot_measures": a_unpivot_measures,
        "text_rake_keyphrases": text_rake_keyphrases,
        "events_date_spine_gaps": events_date_spine_gaps,
        "sketch_kmv_overlap": sketch_kmv_overlap,
        "dedup_cluster_stats": dedup_cluster_stats,
        "dedup_threshold_sweep": dedup_threshold_sweep,
        "w_trailing_range_frame": w_trailing_range_frame,
        "emb_dim_profile": emb_dim_profile,
        "j_null_safe_join": j_null_safe_join,
        "u_except_intersect": u_except_intersect,
        "kg_attr_similarity": kg_attr_similarity,
        "graph_link_prediction": graph_link_prediction,
        "graph_jaccard_similarity": graph_jaccard_similarity,
        "graph_walk_corpus": graph_walk_corpus,
        "graph_skipgram_pairs": graph_skipgram_pairs,
        "kmeans_clusters": kmeans_clusters,
        "a_percentiles": a_percentiles,
        "j_salted_skew_join": j_salted_skew_join,
        "a_pivot_event_matrix": a_pivot_event_matrix,
        "f_variant_extract": f_variant_extract,
        "s_incremental_read": s_incremental_read,
        "pack_sequences": pack_sequences,
        "s_minmax_skipping": s_minmax_skipping,
        "s_merge_upsert": s_merge_upsert,
        "s_gdpr_erasure": s_gdpr_erasure,
        "s_compact_optimize": s_compact_optimize,
        "mv_incremental_refresh": mv_incremental_refresh,
        "mv_kmv_distinct": mv_kmv_distinct,
        "s_expire_vacuum": s_expire_vacuum,
        "s_wap_publish": s_wap_publish,
        "s_snapshot_diff": s_snapshot_diff,
        "graph_triangles": graph_triangles,
        "w_gap_islands": w_gap_islands,
        "a_cube_rollup": a_cube_rollup,
        "w_running_analytics": w_running_analytics,
        "er_fuzzy_link": er_fuzzy_link,
        "er_snm_link": er_snm_link,
        "er_key_blocking_metrics": er_key_blocking_metrics,
        "er_blocking_eval": er_blocking_eval,
        "events_hopping_agg": events_hopping_agg,
        "sketch_bloom_filter": sketch_bloom_filter,
        "ml_ols_regression": ml_ols_regression,
        "er_clusters": er_clusters,
        "graph_degree_stats": graph_degree_stats,
        "graph_assortativity": graph_assortativity,
        "scd2_type_intervals": scd2_type_intervals,
        "events_mad_outliers": events_mad_outliers,
        "dq_fd_violations": dq_fd_violations,
        "dq_benford_digits": dq_benford_digits,
        "w_forward_fill": w_forward_fill,
        "select_max_coverage": select_max_coverage,
        "stat_contingency": stat_contingency,
        "events_survival_km": events_survival_km,
        "stat_gini_concentration": stat_gini_concentration,
        "stat_ab_ztest": stat_ab_ztest,
        "rank_eval_ndcg": rank_eval_ndcg,
        "dq_constraint_suite": dq_constraint_suite,
        "sketch_join_size": sketch_join_size,
        "ml_target_encoding": ml_target_encoding,
        "ml_feature_hash": ml_feature_hash,
        "j_rendezvous_shards": j_rendezvous_shards,
        "dq_table_profile": dq_table_profile,
        "tok_bpe_pair_counts": tok_bpe_pair_counts,
        "tok_bpe_learn_merges": tok_bpe_learn_merges,
        "tok_bpe_segment_corpus": tok_bpe_segment_corpus,
        "mm_phash_near_dup": mm_phash_near_dup,
        "ml_logreg_irls": ml_logreg_irls,
        "events_rolling_distinct_users": events_rolling_distinct_users,
        "dq_k_anonymity": dq_k_anonymity,
        "dp_noisy_counts": dp_noisy_counts,
        "events_ewma_smooth": events_ewma_smooth,
        "events_cusum_changepoint": events_cusum_changepoint,
        "ml_psi_drift": ml_psi_drift,
        "ml_ks_drift": ml_ks_drift,
        "ml_calibration_bins": ml_calibration_bins,
        "sketch_hll_distinct": sketch_hll_distinct,
        "stat_eb_shrinkage": stat_eb_shrinkage,
        "stat_anova_f": stat_anova_f,
        "stat_grouped_pearson": stat_grouped_pearson,
        "supplier_lead_time": supplier_lead_time,
        "events_peak_concurrency": events_peak_concurrency,
        "stat_spearman": stat_spearman,
        "stat_welch_ttest": stat_welch_ttest,
        "a_grouping_sets": a_grouping_sets,
        "stat_wilson_ci": stat_wilson_ci,
        "text_burstiness": text_burstiness,
        "text_ngram_novelty": text_ngram_novelty,
        "text_readability": text_readability,
        "events_max_silence": events_max_silence,
        "text_heaps_curve": text_heaps_curve,
        "stat_herfindahl": stat_herfindahl,
        "text_zipf_fit": text_zipf_fit,
        "events_dow_seasonality": events_dow_seasonality,
        "events_moving_median": events_moving_median,
        "orders_interarrival": orders_interarrival,
        "orders_cohort_ltv": orders_cohort_ltv,
        "q_pareto_coverage": q_pareto_coverage,
        "events_user_entropy": events_user_entropy,
        "events_stickiness": events_stickiness,
        "events_autocorr": events_autocorr,
        "w_interval_union": w_interval_union,
        "stat_mannwhitney_u": stat_mannwhitney_u,
        "er_fs_link": er_fs_link,
        "stream_hll_distinct": stream_hll_distinct,
        "stream_static_enrich": stream_static_enrich,
        "stream_quality_filter": stream_quality_filter,
        "s_python_datasource": s_python_datasource,
        "geo_knn_grid": geo_knn_grid,
        "market_basket_triples": market_basket_triples,
        "q_skyline_2d": q_skyline_2d,
        "rank_eval_mrr": rank_eval_mrr,
        "f_props_kv_udtf": f_props_kv_udtf,
        "select_dsir_weights": select_dsir_weights,
        "rlhf_preference_pairs": rlhf_preference_pairs,
        "text_ppl_buckets": text_ppl_buckets,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    toks = _toks_sql("text")
    sql = {}

    sql["p2_anti_join"] = """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
    """

    sql["j1_broadcast_enrich"] = """
        SELECT c_mktsegment,
               count(*) AS n_orders,
               round(sum(o_totalprice::DECIMAL(18,2)), 2)::DOUBLE
                 AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """

    sql["j6_cooccurrence_edges"] = """
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               count(*) AS weight
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    """

    sql["w2_topk_per_group"] = """
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price
        FROM (SELECT *, row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders) t
        WHERE rn <= 3
    """

    sql["a5_stratified_sample"] = """
        SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal
        FROM (SELECT *, row_number() OVER (
                PARTITION BY c_mktsegment
                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
              FROM customer) t
        WHERE rn <= 5
    """

    sql["a7_keep_first_per_key"] = """
        SELECT o_custkey, o_orderstatus, o_orderkey
        FROM (SELECT *, row_number() OVER (
                PARTITION BY o_custkey, o_orderstatus
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders) t
        WHERE rn = 1
    """

    sql["a8_rrf_fusion"] = """
        WITH l1 AS (
          SELECT c_custkey, row_number() OVER (
                   ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
          FROM customer QUALIFY rank <= 100),
        l2 AS (
          SELECT c_custkey, row_number() OVER (
                   ORDER BY n DESC, c_custkey ASC) AS rank
          FROM (SELECT o_custkey AS c_custkey, count(*) AS n
                FROM orders GROUP BY 1) t QUALIFY rank <= 100),
        u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2)
        SELECT c_custkey,
               round(sum(1.0 / (60.0 + rank)), 6) AS rrf_score
        FROM u GROUP BY c_custkey
    """

    sql["q1_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS sum_qty,
               round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE
                 AS sum_base_price,
               round(sum(l_extendedprice::DECIMAL(18,2)
                         * (1.00::DECIMAL(18,2)
                            - l_discount::DECIMAL(18,2))), 2)::DOUBLE
                 AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """

    sql["f_scalar_functions"] = r"""
        SELECT p_partkey,
               regexp_replace(lower(p_name), '[^a-z0-9]+', '_', 'g')
                 AS name_slug,
               md5(p_name) AS name_md5,
               regexp_extract(p_brand, '(\d+)$', 1) AS brand_num,
               p_size::VARCHAR AS size_str
        FROM part
    """

    sql["f4_json_extract"] = """
        SELECT json_extract(props, '$.k')::INT AS k, count(*) AS n
        FROM events GROUP BY 1
    """

    sql["s9_delete_where"] = """
        -- DELETE WHERE cond removes rows where cond IS TRUE; rows with
        -- a NULL predicate are KEPT (matches SnapshotTable.delete_where)
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        FROM customer
        WHERE (round(c_acctbal, 2) < 1000) IS NOT TRUE
    """

    sql["m7_spec_attrs"] = r"""
        WITH s AS (
          SELECT p_partkey,
                 'Brand: ' || p_brand || chr(10) ||
                 'Type: ' || p_type || chr(10) ||
                 'Size: ' || p_size::VARCHAR || chr(10) ||
                 'Product Name: ' || p_name || chr(10) ||
                 'malformed line without separator' AS t
          FROM part),
        l AS (SELECT p_partkey AS subj,
                     unnest(string_split(t, chr(10))) AS line FROM s)
        SELECT subj,
               regexp_replace(trim(lower(regexp_extract(line, '^([^:]+):', 1))),
                              '\s+', '_', 'g') AS attr,
               trim(regexp_extract(line, '^[^:]+:(.*)$', 1)) AS value
        FROM l
        WHERE trim(lower(regexp_extract(line, '^([^:]+):', 1))) <> ''
          AND trim(regexp_extract(line, '^[^:]+:(.*)$', 1)) <> ''
    """

    sql["j_dim_chain_agg"] = """
        SELECT r_name,
               count(*) AS n_orders,
               round(sum(o_totalprice::DECIMAL(18,2)), 2)::DOUBLE AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """

    sql["s11_index_stats"] = """
        SELECT label, count(*) AS n_vectors,
               max(len(embedding)) AS dim
        FROM embeddings GROUP BY label
    """

    sql["u1_union_distinct"] = """
        SELECT DISTINCT tag FROM (
          SELECT event_type AS tag FROM events
          UNION ALL SELECT o_orderpriority AS tag FROM orders)
    """

    sql["a2_collect_sorted"] = """
        SELECT user_id,
               string_agg(DISTINCT event_type, ',' ORDER BY event_type)
                 AS event_types,
               count(*) AS n_events
        FROM events GROUP BY user_id
    """

    sql["events_tumbling_agg"] = """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                 AS hour_start,
               event_type, count(*) AS n,
               round(sum(value::DECIMAL(18,6)), 4)::DOUBLE AS total_value
        FROM events GROUP BY 1, 2
    """

    sql["stream_windowed_agg"] = sql["events_tumbling_agg"]

    sql["stream_dedup_distinct"] = """
        SELECT DISTINCT user_id, event_type FROM events
    """

    sql["stream_merge_upsert"] = """
        SELECT event_id, user_id, event_type, value
        FROM (SELECT event_id, user_id, event_type, value,
                     row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY (event_id % 3) DESC, event_id DESC)
                       AS rn
              FROM events) z
        WHERE rn = 1
    """

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
    sql["graph_kcore"] = ("WITH " + ",".join(_kc) + """
        SELECT src AS node, count(*) AS deg FROM e3 GROUP BY 1
    """)

    sql["q18_large_orders"] = """
        WITH big AS (
          SELECT l_orderkey,
                 round(sum(l_quantity::DECIMAL(18,2)), 2)::DOUBLE
                   AS total_qty
          FROM lineitem GROUP BY 1
          HAVING round(sum(l_quantity::DECIMAL(18,2)), 2) > 150)
        SELECT c_custkey, c_name, o_orderkey,
               round(o_totalprice, 2) AS o_totalprice, total_qty
        FROM big
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """

    sql["q7_nation_volume"] = """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS yr,
               round(sum((l_extendedprice * (1 - l_discount))
                         ::DECIMAL(18,6)), 2)::DOUBLE AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """

    sql["q6_forecast_revenue"] = """
        SELECT round(sum((l_extendedprice * l_discount)
                         ::DECIMAL(18,6)), 2)::DOUBLE AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate <  DATE '1996-01-01'
          AND l_discount BETWEEN 0.02 AND 0.06
          AND l_quantity < 24
    """

    sql["q14_promo_share"] = """
        SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                 THEN (l_extendedprice * (1 - l_discount))
                      ::DECIMAL(18,6)
                 ELSE 0::DECIMAL(18,6) END)::DOUBLE
               / sum((l_extendedprice * (1 - l_discount))
                     ::DECIMAL(18,6))::DOUBLE, 6) AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
    """

    sql["q3_shipping_priority"] = """
        WITH rev AS (
          SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
                   AS o_orderdate,
                 round(sum((l_extendedprice * (1 - l_discount))
                           ::DECIMAL(18,6)), 2)::DOUBLE AS revenue
          FROM customer
          JOIN orders   ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < DATE '1995-03-15'
            AND l_shipdate > DATE '1995-03-15'
          GROUP BY 1, 2)
        SELECT o_orderkey, o_orderdate, revenue, rank
        FROM (SELECT *, row_number() OVER (
                ORDER BY revenue DESC, o_orderkey ASC) AS rank
              FROM rev) z
        WHERE rank <= 10
    """

    sql["q4_order_priority"] = """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate
                                         + INTERVAL 30 DAY)
        GROUP BY 1
    """

    sql["q10_returned_items"] = """
        WITH rev AS (
          SELECT c_custkey, c_name,
                 round(sum((l_extendedprice * (1 - l_discount))
                           ::DECIMAL(18,6)), 2)::DOUBLE AS revenue
          FROM customer
          JOIN orders   ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_returnflag = 'R'
          GROUP BY 1, 2)
        SELECT c_custkey, c_name, revenue, rank
        FROM (SELECT *, row_number() OVER (
                ORDER BY revenue DESC, c_custkey ASC) AS rank
              FROM rev) z
        WHERE rank <= 20
    """

    sql["part_brand_margin"] = """
        SELECT p_brand, count(*) AS n_items,
               round(sum(l_extendedprice::DECIMAL(18,6)), 2)::DOUBLE
                 AS gross,
               round(sum((l_extendedprice * l_discount)
                         ::DECIMAL(18,6)), 2)::DOUBLE AS discounted
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    """

    sql["supplier_balance_deciles"] = """
        WITH d AS (
          SELECT round(s_acctbal, 2) AS bal,
                 ntile(10) OVER (ORDER BY round(s_acctbal, 2) ASC,
                                 s_suppkey ASC) AS decile
          FROM supplier)
        SELECT decile, count(*) AS n, min(bal) AS lo, max(bal) AS hi
        FROM d GROUP BY 1
    """

    sql["rfm_segments"] = """
        WITH pc AS (
          SELECT o_custkey,
                 date_diff('day', max(o_orderdate),
                           (SELECT max(o_orderdate) FROM orders))
                   AS recency_days,
                 count(*) AS frequency,
                 round(sum(o_totalprice::DECIMAL(18,6)), 2) AS monetary
          FROM orders GROUP BY 1),
        seg AS (
          SELECT o_custkey,
                 ntile(4) OVER (ORDER BY recency_days ASC,
                                o_custkey ASC) AS r_q,
                 ntile(4) OVER (ORDER BY frequency DESC,
                                o_custkey ASC) AS f_q,
                 ntile(4) OVER (ORDER BY monetary DESC,
                                o_custkey ASC) AS m_q
          FROM pc)
        SELECT r_q, f_q, m_q, count(*) AS customers
        FROM seg GROUP BY 1, 2, 3
    """

    sql["q5_local_supplier_volume"] = """
        SELECT n_name,
               round(sum((l_extendedprice * (1 - l_discount))
                         ::DECIMAL(18,6)), 4)::DOUBLE AS revenue,
               count(*) AS n_items
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY 1
    """

    sql["q13_order_count_distribution"] = """
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey
              GROUP BY 1)
        GROUP BY 1
    """

    sql["q17_small_quantity_revenue"] = """
        WITH thr AS (
          SELECT l_partkey,
                 sum(l_quantity::DECIMAL(18,2)) AS sum_qty,
                 count(*) AS cnt
          FROM lineitem GROUP BY 1)
        SELECT round((sum(l_extendedprice::DECIMAL(18,6)) / 7)::DOUBLE,
                     2) AS avg_yearly,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN thr USING (l_partkey)
        WHERE p_brand = 'Brand#23'
          AND l_quantity::DECIMAL(18,2) * 5 * cnt < sum_qty
    """

    sql["q19_disjunct_revenue"] = """
        SELECT p_brand,
               round(sum((l_extendedprice * (1 - l_discount))
                         ::DECIMAL(18,6)), 2)::DOUBLE AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size <= 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size <= 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size <= 15
               AND l_quantity BETWEEN 20 AND 30)
        GROUP BY 1
    """

    sql["q22_idle_rich_customers"] = """
        WITH avg_pos AS (
          SELECT sum(c_acctbal::DECIMAL(18,2))::DOUBLE / count(*)
                   AS avg_bal
          FROM customer WHERE c_acctbal > 0)
        SELECT c_mktsegment,
               count(*) AS numcust,
               round(sum(c_acctbal::DECIMAL(18,2)), 2)::DOUBLE
                 AS totacctbal
        FROM customer, avg_pos
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY 1
    """

    sql["q2_min_price_supplier"] = """
        WITH unit AS (
          SELECT l_partkey, l_suppkey,
                 sum(l_extendedprice::DECIMAL(18,6))::DOUBLE
                   / sum(l_quantity::DECIMAL(18,2))::DOUBLE
                   AS unit_price
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'STANDARD' AND p_size <= 10
          GROUP BY 1, 2)
        SELECT l_partkey AS p_partkey, s_suppkey, s_name,
               n_name AS supp_nation,
               round(unit_price, 6) AS unit_price
        FROM unit u
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE unit_price = (SELECT min(unit_price) FROM unit
                            WHERE l_partkey = u.l_partkey)
    """

    sql["q11_value_concentration"] = """
        WITH val AS (
          SELECT l_partkey,
                 sum((l_extendedprice * (1 - l_discount))
                     ::DECIMAL(18,6)) AS value_dec
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_5'
          GROUP BY 1),
        tot AS (SELECT sum(value_dec)::DOUBLE AS total FROM val)
        SELECT l_partkey,
               round(value_dec, 2)::DOUBLE AS part_value
        FROM val CROSS JOIN tot
        WHERE value_dec::DOUBLE > 0.001 * total
    """

    sql["q12_priority_by_delay"] = """
        SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
                    THEN 'late' ELSE 'ontime' END AS ship_class,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    """

    sql["q8_market_share"] = """
        WITH vol AS (
          SELECT year(o_orderdate) AS o_year,
                 (l_extendedprice * (1 - l_discount))::DECIMAL(18,6)
                   AS volume,
                 sn.n_name AS supp_nation
          FROM lineitem
          JOIN part     ON l_partkey = p_partkey
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region   ON cn.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE p_type = 'ECONOMY' AND r_name = 'ASIA')
        SELECT o_year,
               sum(CASE WHEN supp_nation = 'NATION_3'
                        THEN volume
                        ELSE 0::DECIMAL(18,6) END)::DOUBLE
                 / sum(volume)::DOUBLE AS mkt_share,
               round(sum(volume), 4)::DOUBLE AS total_volume
        FROM vol GROUP BY 1
    """

    sql["q9_profit_by_nation_year"] = """
        SELECT n_name AS nation,
               year(o_orderdate) AS o_year,
               round(sum((l_extendedprice * (1 - l_discount)
                          - 0.6 * p_retailprice * l_quantity)
                         ::DECIMAL(18,6)), 2)::DOUBLE AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
    """

    sql["q15_top_supplier"] = """
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 round(sum((l_extendedprice * (1 - l_discount))
                           ::DECIMAL(18,6)), 4)::DOUBLE
                   AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1996-04-01'
          GROUP BY 1)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON supplier_no = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """

    sql["q16_supplier_part_counts"] = """
        WITH ps AS (
          SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM ps JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#2' AND p_size <= 20
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
    """

    sql["q20_dominant_suppliers"] = """
        WITH qty AS (
          SELECT l_partkey, l_suppkey,
                 sum(l_quantity::DECIMAL(18,2)) AS supp_qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'small%'
            AND l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate <  TIMESTAMP '1996-01-01'
          GROUP BY 1, 2),
        tot AS (
          SELECT l_partkey, sum(supp_qty) AS part_qty
          FROM qty GROUP BY 1)
        SELECT s_suppkey, s_name, count(*) AS n_parts_dominated
        FROM qty JOIN tot USING (l_partkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE supp_qty * 2 > part_qty
        GROUP BY 1, 2
    """

    sql["q21_late_sole_shippers"] = """
        WITH pairs AS (
          SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        late AS (
          SELECT DISTINCT l_orderkey, l_suppkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'
            AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        SELECT s_suppkey, s_name, count(*) AS numwait
        FROM late t1 JOIN supplier ON t1.l_suppkey = s_suppkey
        WHERE EXISTS (SELECT 1 FROM pairs t2
                      WHERE t2.l_orderkey = t1.l_orderkey
                        AND t2.l_suppkey <> t1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late t3
                          WHERE t3.l_orderkey = t1.l_orderkey
                            AND t3.l_suppkey <> t1.l_suppkey)
        GROUP BY 1, 2
    """

    sql["market_basket_lift"] = """
        WITH li AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        item_cnt AS (
          SELECT l_partkey, count(*) AS item_cnt FROM li GROUP BY 1),
        pairs AS (
          SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                 count(*) AS pair_cnt
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 3)
        SELECT item_a, item_b, pair_cnt,
               pair_cnt::DOUBLE / ca.item_cnt AS confidence,
               (pair_cnt * n_orders)::DOUBLE
                 / (ca.item_cnt * cb.item_cnt) AS lift
        FROM pairs
        JOIN item_cnt ca ON pairs.item_a = ca.l_partkey
        JOIN item_cnt cb ON pairs.item_b = cb.l_partkey
        CROSS JOIN n
    """

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
    sql["graph_bfs_distances"] = ("WITH " + ",".join(_bfs) + """
        SELECT node, dist FROM v0
        UNION ALL SELECT node, dist FROM v1
        UNION ALL SELECT node, dist FROM v2
        UNION ALL SELECT node, dist FROM v3
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
    sql["graph_luby_mis"] = ("WITH " + ",".join(_lm) + """
        SELECT node, 1 AS mis_round FROM win1
        UNION ALL SELECT node, 2 AS mis_round FROM win2
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
    sql["graph_ktruss"] = ("WITH " + ",".join(_kt) + """
        SELECT a, b, CAST(support AS BIGINT) AS support FROM c2
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
    sql["graph_betweenness"] = ("WITH " + ",".join(_bw) + """
        SELECT node, round(sum(delta), 6) AS betweenness
        FROM (SELECT seed, node, delta FROM b1
              UNION ALL SELECT seed, node, delta FROM b2)
        GROUP BY node
        HAVING round(sum(delta), 6) > 0
    """)

    sql["graph_harmonic_centrality"] = ("WITH " + ",".join(_hc) + """
        SELECT node, count(*) AS n_reached,
               round(sum(1.0 / dist), 6) AS harmonic
        FROM (SELECT * FROM h1
              UNION ALL SELECT * FROM h2
              UNION ALL SELECT * FROM h3)
        GROUP BY node
    """)

    sql["funnel_view_click_purchase"] = """
        WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT s1.user_id, s1.t1, min(e.ts) AS t2
               FROM s1 LEFT JOIN events e
                 ON e.user_id = s1.user_id
                AND e.event_type = 'click' AND e.ts > s1.t1
               GROUP BY 1, 2),
        s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(e.ts) AS t3
               FROM s2 LEFT JOIN events e
                 ON e.user_id = s2.user_id
                AND e.event_type = 'purchase' AND e.ts > s2.t2
               GROUP BY 1, 2, 3)
        SELECT user_id,
               strftime(t1, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
               strftime(t2, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               strftime(t3, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        FROM s3
    """

    sql["asof_attribution"] = """
        SELECT p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
               v.event_id AS asof_view_id,
               strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts >= v.ts
    """

    sql["asof_attribution_cogroup"] = sql["asof_attribution"]

    sql["range_join_attribution"] = """
        SELECT p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
               v.event_id AS in_range_view_id,
               strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
        FROM events p JOIN events v
          ON p.user_id = v.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND v.ts <= p.ts
         AND epoch_us(p.ts) - epoch_us(v.ts) <= 259200000000
    """

    sql["sessionize_events"] = """
        WITH g AS (
          SELECT user_id, ts,
                 lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts) AS prev_us
          FROM events),
        f AS (
          SELECT user_id, ts,
                 CASE WHEN prev_us IS NULL
                        OR epoch_us(ts) - prev_us > 14400000000
                      THEN 1 ELSE 0 END AS ns
          FROM g),
        s AS (
          SELECT user_id, ts,
                 (sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING))::BIGINT
                   AS session_idx
          FROM f)
        SELECT user_id, session_idx, count(*) AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM s GROUP BY 1, 2
    """

    # closed sessions = batch sessionization minus each user's final
    # (still-open-in-state) session
    sql["stream_sessionize_closed"] = sql["sessionize_events"] + """
        QUALIFY session_idx < max(session_idx) OVER (PARTITION BY user_id)
    """

    sql["f9_content_ids"] = """
        SELECT doc_id,
               md5(doc_id::VARCHAR) AS id_md5,
               sha256(doc_id::VARCHAR || ':' || coalesce(text, ''))
                 AS content_sha2
        FROM documents
    """

    sql["text_token_stats"] = f"""
        SELECT doc_id,
               len({toks}) AS n_tokens,
               length(text) AS n_chars_m,
               round((length(text)
                      - length(regexp_replace(text, '[0-9]', '', 'g')))
                     / greatest(length(text), 1)::DOUBLE, 6) AS digit_ratio,
               round(list_sum(list_transform({toks}, t -> length(t)))
                     / greatest(len({toks}), 1)::DOUBLE, 6) AS mean_tok_len
        FROM documents
    """

    en_sw = _en_stopword_list()
    sql["text_quality"] = f"""
        SELECT doc_id,
          round(0.25 * (CASE WHEN length(text) BETWEEN 20 AND 10000
                             THEN 1.0 ELSE 0.0 END)
              + 0.25 * (CASE WHEN len({toks}) BETWEEN 5 AND 2000
                             THEN 1.0 ELSE 0.0 END)
              + 0.25 * (CASE WHEN (length(text)
                          - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                          / greatest(length(text), 1)::DOUBLE <= 0.3
                             THEN 1.0 ELSE 0.0 END)
              + 0.25 * (CASE WHEN
                          list_sum(list_transform({toks}, t -> length(t)))
                            / greatest(len({toks}), 1)::DOUBLE
                          BETWEEN 2.0 AND 12.0
                             THEN 1.0 ELSE 0.0 END), 6) AS quality,
          round(len(list_filter({toks}, t -> list_contains({en_sw}, t)))
                / greatest(len({toks}), 1)::DOUBLE, 6) AS stopword_ratio
        FROM documents
    """

    _q_expr = f"""(
          0.25 * (CASE WHEN length(text) BETWEEN 20 AND 10000
                       THEN 1.0 ELSE 0.0 END)
        + 0.25 * (CASE WHEN len({toks}) BETWEEN 5 AND 2000
                       THEN 1.0 ELSE 0.0 END)
        + 0.25 * (CASE WHEN (length(text)
                    - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                    / greatest(length(text), 1)::DOUBLE <= 0.3
                       THEN 1.0 ELSE 0.0 END)
        + 0.25 * (CASE WHEN
                    list_sum(list_transform({toks}, t -> length(t)))
                      / greatest(len({toks}), 1)::DOUBLE
                    BETWEEN 2.0 AND 12.0
                       THEN 1.0 ELSE 0.0 END))"""
    sql["corpus_stats_card"] = f"""
        SELECT lang, source, count(*) AS n_docs,
               sum(coalesce(len({toks}), 0))::BIGINT AS total_tokens,
               sum(coalesce(length(text), 0))::BIGINT AS total_chars,
               round(avg({_q_expr}), 6) AS mean_quality
        FROM documents GROUP BY 1, 2
    """

    sql["ab_experiment_lift"] = """
        WITH asg AS (
          SELECT value,
                 CASE WHEN ('0x' || substr(md5('ab1:'
                        || user_id::VARCHAR), 1, 15))::BIGINT
                        < 576460752303423488
                      THEN 'control' ELSE 'treatment' END AS variant
          FROM events WHERE event_type = 'purchase'),
        per AS (
          SELECT variant, count(*) AS n, avg(value) AS mean,
                 var_samp(value) AS var
          FROM asg GROUP BY 1),
        c AS (SELECT n AS n_c, mean AS m_c, var AS v_c FROM per
              WHERE variant = 'control'),
        t AS (SELECT n AS n_t, mean AS m_t, var AS v_t FROM per
              WHERE variant = 'treatment')
        SELECT n_c, n_t,
               round(m_c, 6) AS mean_control,
               round(m_t, 6) AS mean_treatment,
               round(m_t - m_c, 6) AS lift,
               CASE WHEN sqrt(v_t / n_t + v_c / n_c) <> 0
                    THEN round((m_t - m_c)
                               / sqrt(v_t / n_t + v_c / n_c), 6)
               END AS z_stat
        FROM c, t
    """

    sql["funnel_conversion_rates"] = """
        WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT s1.user_id, s1.t1, min(e.ts) AS t2
               FROM s1 LEFT JOIN events e
                 ON e.user_id = s1.user_id
                AND e.event_type = 'click' AND e.ts > s1.t1
               GROUP BY 1, 2),
        s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(e.ts) AS t3
               FROM s2 LEFT JOIN events e
                 ON e.user_id = s2.user_id
                AND e.event_type = 'purchase' AND e.ts > s2.t2
               GROUP BY 1, 2, 3)
        SELECT count(*) AS entered, count(t2) AS clicked,
               count(t3) AS purchased,
               round(count(t2) / count(*)::DOUBLE, 6) AS click_rate,
               CASE WHEN count(t2) > 0
                    THEN round(count(t3) / count(t2)::DOUBLE, 6)
               END AS purchase_rate
        FROM s3
    """

    sql["text_lang_id"] = f"""
        WITH tok AS (
          SELECT doc_id, unnest({toks}) AS token FROM documents),
        sw(lang, token) AS (VALUES {_stopword_values()}),
        hits AS (
          SELECT doc_id, lang, count(*) AS lang_hits
          FROM tok JOIN sw USING (token) GROUP BY 1, 2),
        best AS (
          SELECT doc_id, lang, lang_hits, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY lang_hits DESC, lang ASC) AS rn
          FROM hits)
        SELECT d.doc_id,
               coalesce(b.lang, 'und') AS lang_pred,
               coalesce(b.lang_hits, 0) AS lang_hits
        FROM documents d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """

    sql["text_langid_confusion"] = f"""
        WITH tok AS (
          SELECT doc_id, unnest({toks}) AS token FROM documents),
        sw(lang, token) AS (VALUES {_stopword_values()}),
        hits AS (
          SELECT doc_id, lang, count(*) AS lang_hits
          FROM tok JOIN sw USING (token) GROUP BY 1, 2),
        best AS (
          SELECT doc_id, lang, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY lang_hits DESC, lang ASC) AS rn
          FROM hits),
        pred AS (
          SELECT d.doc_id, d.lang AS lang_true,
                 coalesce(b.lang, 'und') AS lang_pred
          FROM documents d
          LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
            USING (doc_id)),
        cm AS (SELECT lang_true, lang_pred, count(*) AS n
               FROM pred GROUP BY 1, 2),
        tot AS (SELECT lang_true, sum(n)::BIGINT AS t
                FROM cm GROUP BY 1)
        SELECT cm.lang_true, cm.lang_pred, cm.n,
               round(cm.n::DOUBLE / tot.t, 6) AS recall
        FROM cm JOIN tot USING (lang_true)
    """

    sql["text_fingerprint"] = f"""
        SELECT doc_id, md5({_norm_sql('text')}) AS fingerprint
        FROM documents
    """

    # PII scan/redaction — identical RE2-safe patterns on both engines
    # (functions/text.py::PII_PATTERNS), same deterministic injection
    from fashion_knowledge_graph_spark.functions.text import (
        _PII_REDACT_ORDER,
        PII_PATTERNS,
    )
    aug_sql = """CASE
        WHEN doc_id % 3 = 0 THEN text || ' contact user' || doc_id::VARCHAR
             || '@example.com via https://shop.example.com/i/'
             || doc_id::VARCHAR
        WHEN doc_id % 5 = 0 THEN text || ' call (555) 010-'
             || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        ELSE text END"""
    red_sql = aug_sql
    for kind in _PII_REDACT_ORDER:
        red_sql = (f"regexp_replace({red_sql}, '{PII_PATTERNS[kind]}', "
                   f"'<{kind.upper()}>', 'g')")
    counts_sql = ", ".join(
        f"len(regexp_extract_all({aug_sql}, '{PII_PATTERNS[k]}')) AS n_{k}"
        for k in ("email", "phone", "url", "ip"))
    from fashion_knowledge_graph_spark.operators.sampling import (
        _poisson1_thresholds,
    )
    _pth = _poisson1_thresholds()
    _pcase = " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_pth))
    sql["stat_bootstrap_ci"] = f"""
        WITH y AS (SELECT CAST(event_id AS VARCHAR) AS id,
                          CAST(value AS DECIMAL(18,6)) AS y
                   FROM events
                   WHERE event_type = 'purchase'
                     AND value IS NOT NULL),
        reps AS (SELECT id, y, unnest(range(0, 64)) AS b FROM y),
        uu AS (SELECT b, y,
                      ('0x' || substr(md5('boot:' || CAST(b AS VARCHAR)
                                          || ':' || id), 1, 15))
                        ::BIGINT / CAST(1152921504606846976 AS DOUBLE)
                        AS u
               FROM reps),
        ww AS (SELECT b, y, CASE {_pcase} ELSE 9 END AS w FROM uu),
        means AS (SELECT b,
                         CAST(sum(y * w) AS DOUBLE) / sum(w) AS m
                  FROM ww GROUP BY 1),
        pt AS (SELECT count(*) AS n,
                      CAST(sum(y) AS DOUBLE) / count(*) AS pm
               FROM y),
        ci AS (SELECT quantile_cont(m, 0.025) AS lo,
                      quantile_cont(m, 0.975) AS hi
               FROM means)
        SELECT CAST(n AS BIGINT) AS n,
               round(pm, 6) AS point_mean,
               round(lo, 6) AS ci_lo,
               round(hi, 6) AS ci_hi
        FROM pt CROSS JOIN ci
    """

    sql["stat_did"] = """
        WITH cells AS (
          SELECT user_id % 2 = 1 AS treated,
                 ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
                 count(*) AS n,
                 sum(CAST(value AS DECIMAL(18,6))) AS s
          FROM events GROUP BY 1, 2),
        g AS (SELECT
          max(CASE WHEN treated AND NOT post
                   THEN CAST(s AS DOUBLE) / n END) AS m_t_pre,
          max(CASE WHEN treated AND post
                   THEN CAST(s AS DOUBLE) / n END) AS m_t_post,
          max(CASE WHEN NOT treated AND NOT post
                   THEN CAST(s AS DOUBLE) / n END) AS m_c_pre,
          max(CASE WHEN NOT treated AND post
                   THEN CAST(s AS DOUBLE) / n END) AS m_c_post
          FROM cells)
        SELECT round(m_t_pre, 6) AS treat_pre,
               round(m_t_post, 6) AS treat_post,
               round(m_c_pre, 6) AS control_pre,
               round(m_c_post, 6) AS control_post,
               round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6)
                 AS did_estimate
        FROM g
    """

    sql["stat_cuped"] = """
        WITH pu AS (
          SELECT user_id,
                 coalesce(sum(CASE WHEN ts < TIMESTAMP
                                        '2024-01-16 00:00:00'
                              THEN CAST(value AS DECIMAL(18,6)) END),
                          0) AS x,
                 coalesce(sum(CASE WHEN ts >= TIMESTAMP
                                        '2024-01-16 00:00:00'
                              THEN CAST(value AS DECIMAL(18,6)) END),
                          0) AS y
          FROM events GROUP BY 1),
        m AS (SELECT count(*) AS n,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(x * y) AS sxy, sum(x * x) AS sxx,
                     sum(y * y) AS syy
              FROM pu),
        d AS (SELECT CAST(n AS DOUBLE) AS n,
                     CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
                     CAST(sxy AS DOUBLE) AS sxy,
                     CAST(sxx AS DOUBLE) AS sxx,
                     CAST(syy AS DOUBLE) AS syy,
                     CAST(n AS BIGINT) AS n_users
              FROM m),
        s AS (SELECT n_users,
                     sxx / n - (sx / n) * (sx / n) AS var_x,
                     syy / n - (sy / n) * (sy / n) AS var_y,
                     sxy / n - (sx / n) * (sy / n) AS cov
              FROM d),
        t AS (SELECT *, cov / var_x AS theta FROM s)
        SELECT n_users,
               round(theta, 6) AS theta,
               round(var_y, 4) AS var_y,
               round(var_y - theta * theta * var_x, 4)
                 AS var_y_adjusted,
               round(1.0 - (var_y - theta * theta * var_x) / var_y, 6)
                 AS variance_reduction
        FROM t
    """

    sql["attribution_position"] = """
        WITH conv AS (SELECT user_id AS e, event_id AS conv_id,
                             ts AS conv_ts
                      FROM events WHERE event_type = 'purchase'),
        touch AS (SELECT user_id AS e, event_id AS touch_id,
                         ts AS touch_ts
                  FROM events WHERE event_type = 'view'),
        j AS (SELECT c.conv_id, t.touch_id, t.touch_ts
              FROM conv c JOIN touch t
                ON t.e = c.e AND t.touch_ts < c.conv_ts),
        ranked AS (
          SELECT conv_id, touch_id,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY touch_ts, touch_id)
                   AS position,
                 count(*) OVER (PARTITION BY conv_id) AS n_touches
          FROM j)
        SELECT conv_id, touch_id,
               CAST(position AS INT) AS position,
               CAST(n_touches AS BIGINT) AS n_touches,
               round(CASE WHEN n_touches = 1 THEN 1.0
                          WHEN n_touches = 2 THEN 0.5
                          WHEN position = 1 THEN 0.4
                          WHEN position = n_touches THEN 0.4
                          ELSE 0.2 / (n_touches - 2) END, 6)
                 AS credit
        FROM ranked
    """

    sql["events_session_window"] = """
        WITH e AS (SELECT user_id, ts,
                          CAST(value AS DECIMAL(18,6)) AS v,
                          epoch_us(ts) AS us
                   FROM events),
        lagd AS (SELECT *, lag(us) OVER (
                   PARTITION BY user_id ORDER BY us) AS prev_us
                 FROM e),
        marks AS (SELECT *,
                    CASE WHEN prev_us IS NULL
                           OR us - prev_us > 600000000
                         THEN 1 ELSE 0 END AS new_s
                  FROM lagd),
        sess AS (SELECT *, sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY us
                   ROWS UNBOUNDED PRECEDING) AS sid
                 FROM marks)
        SELECT user_id,
               min(us) AS start_us,
               max(us) + 600000000 AS end_us,
               count(*) AS n_events,
               round(CAST(sum(v) AS DOUBLE), 4) AS total_value
        FROM sess GROUP BY user_id, sid
    """

    sql["text_chunking"] = """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                   t -> t <> '') AS tk
          FROM documents
          WHERE text IS NOT NULL AND doc_id < 1000),
        nz AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
        idx AS (SELECT doc_id, tk, n,
                       unnest(range(0, greatest((n - 1) // 24, 0) + 1))
                         AS chunk_idx
                FROM nz),
        sl AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                      list_slice(tk, chunk_idx * 24 + 1,
                                 chunk_idx * 24 + 32) AS ck
               FROM idx)
        SELECT doc_id, chunk_idx,
               CAST(len(ck) AS INT) AS n_tokens,
               array_to_string(ck, ' ') AS chunk_text
        FROM sl
        WHERE chunk_idx = 0 OR len(ck) > 8
    """

    sql["text_pii_redact"] = f"""
        SELECT doc_id, {counts_sql}, {red_sql} AS redacted
        FROM documents
    """

    # quality gate: all four signals recomputed over the SAME
    # augmented text, verdict = first failing rule (identical order)
    pii_total_sql = " + ".join(
        f"coalesce(len(regexp_extract_all(text, "
        f"'{PII_PATTERNS[k]}')), 0)"
        for k in ("email", "phone", "url", "ip"))
    sql["text_quality_gate"] = f"""
        WITH aug AS (SELECT doc_id, {aug_sql} AS text FROM documents),
        tkx AS (SELECT doc_id, {toks} AS tk, text FROM aug),
        sig AS (
          SELECT doc_id,
                 coalesce(len(tk), 0) AS n_tokens,
                 CASE WHEN coalesce(len(tk), 0) >= 2
                      THEN round(1.0 - len(list_distinct(
                             list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i+1])))
                           / (len(tk) - 1)::DOUBLE, 6)
                      ELSE 0.0 END AS rep_frac,
                 ({pii_total_sql}) AS pii_total
          FROM tkx),
        tokq AS (SELECT doc_id, unnest(tk) AS token FROM tkx),
        swq(lang, token) AS (VALUES {_stopword_values()}),
        hitsq AS (
          SELECT doc_id, lang, count(*) AS lang_hits
          FROM tokq JOIN swq USING (token) GROUP BY 1, 2),
        bestq AS (
          SELECT doc_id, lang, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY lang_hits DESC, lang ASC) AS rn
          FROM hitsq),
        langq AS (
          SELECT a.doc_id, coalesce(b.lang, 'und') AS lang_pred
          FROM aug a LEFT JOIN (SELECT * FROM bestq WHERE rn = 1) b
            USING (doc_id))
        SELECT s.doc_id AS id, s.n_tokens, s.rep_frac, l.lang_pred,
               s.pii_total,
               CASE WHEN s.n_tokens < 30 THEN 'too_short'
                    WHEN s.n_tokens > 100000 THEN 'too_long'
                    WHEN s.rep_frac > 0.2 THEN 'repetitive'
                    WHEN l.lang_pred NOT IN ('en', 'de', 'es', 'fr')
                         THEN 'lang'
                    WHEN s.pii_total > 0 THEN 'pii'
                    ELSE 'pass' END AS verdict
        FROM sig s JOIN langq l ON s.doc_id = l.doc_id
    """

    # ONE definition of the BM25 CTE chain — text_bm25_topk and the
    # hybrid query's lexical leg must never diverge
    _bm25_ctes = f"""
        tkb AS (SELECT doc_id AS id, {toks} AS tk
                FROM documents WHERE text IS NOT NULL),
        dlb AS (SELECT id, coalesce(len(tk), 0) AS dl FROM tkb),
        totb AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
                 FROM dlb),
        hitsb AS (SELECT id, unnest(tk) AS w FROM tkb),
        tfb AS (SELECT id, w, count(*) AS tf FROM hitsb
                WHERE w IN ('spark', 'join', 'fast') GROUP BY 1, 2),
        dfb AS (SELECT w, count(*) AS df_t FROM tfb GROUP BY 1),
        bm25 AS (
          SELECT tfb.id,
                 round(sum(
                   ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                   * (tf * 2.2)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
                   AS score
          FROM tfb JOIN dfb USING (w) JOIN dlb ON dlb.id = tfb.id,
               totb
          GROUP BY 1)"""
    sql["text_bm25_topk"] = f"""
        WITH {_bm25_ctes}
        SELECT id AS doc_id, score, rank
        FROM (SELECT *, row_number() OVER (
                ORDER BY score DESC, id ASC) AS rank FROM bm25) z
        WHERE rank <= 20
    """

    sql["hybrid_search_rrf"] = f"""
        WITH {_bm25_ctes},
        lex AS (
          SELECT id AS doc_id, row_number() OVER (
                   ORDER BY score DESC, id ASC) AS rank
          FROM bm25
          QUALIFY rank <= 50),
        sem AS (
          SELECT c.vec_id AS doc_id, row_number() OVER (
                   ORDER BY list_cosine_similarity(
                     q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                     DESC, c.vec_id ASC) AS rank
          FROM embeddings q JOIN embeddings c ON c.vec_id <> 0
          WHERE q.vec_id = 0
          QUALIFY rank <= 50),
        u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
        fused AS (
          SELECT doc_id,
                 round(sum(1.0 / (60.0 + rank)), 6) AS rrf_score
          FROM u GROUP BY 1)
        SELECT doc_id, rrf_score, rank
        FROM (SELECT *, row_number() OVER (
                ORDER BY rrf_score DESC, doc_id ASC) AS rank
              FROM fused) z
        WHERE rank <= 20
    """

    sql["text_lm_score"] = f"""
        WITH tok AS (
          SELECT doc_id, unnest({toks}) AS w
          FROM documents WHERE text IS NOT NULL),
        uc AS (SELECT w, count(*) AS c_w FROM tok GROUP BY 1),
        tot AS (SELECT sum(c_w)::BIGINT AS n_tok,
                       count(*)::BIGINT AS vocab FROM uc)
        SELECT doc_id, count(*) AS n_tokens,
               round(sum(ln((c_w + 1)::DOUBLE
                            / (n_tok + vocab)::DOUBLE))
                     / count(*), 6) AS mean_logp
        FROM tok JOIN uc USING (w), tot
        GROUP BY doc_id
    """

    sql["events_daily_anomaly"] = """
        WITH daily AS (
          SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, event_type,
                 count(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT day, event_type, n,
               CASE WHEN stddev_pop(n) OVER (PARTITION BY event_type)
                         <> 0
                    THEN round((n - avg(n)
                                OVER (PARTITION BY event_type))
                         / stddev_pop(n)
                           OVER (PARTITION BY event_type), 6)
               END AS z
        FROM daily
    """

    sql["text_pmi_collocations"] = f"""
        WITH tkp AS (SELECT {toks} AS tk FROM documents),
        unip AS (SELECT unnest(tk) AS w FROM tkp),
        uc AS (SELECT w, count(*) AS c_w FROM unip GROUP BY 1),
        nu AS (SELECT sum(c_w)::BIGINT AS n_u FROM uc),
        bigp AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
                 FROM tkp, LATERAL unnest(range(1, len(tk))) AS t(i)),
        bc AS (SELECT w1, w2, count(*) AS c_ab FROM bigp
               GROUP BY 1, 2 HAVING count(*) >= 5),
        nb AS (SELECT count(*) AS n_b FROM bigp)
        SELECT w1, w2, c_ab,
               round(ln((c_ab / n_b)
                        / ((ca.c_w / n_u) * (cb.c_w / n_u))), 6) AS pmi
        FROM bc JOIN uc ca ON ca.w = bc.w1
                JOIN uc cb ON cb.w = bc.w2, nu, nb
    """

    sql["events_cohort_retention"] = """
        WITH act AS (
          SELECT DISTINCT user_id,
                 date_diff('day', DATE '1970-01-01', ts::DATE) AS d_abs
          FROM events),
        firstd AS (SELECT user_id, min(d_abs) AS cohort_day
                   FROM act GROUP BY 1)
        SELECT f.cohort_day, a.d_abs - f.cohort_day AS days_since,
               count(DISTINCT a.user_id) AS active_users
        FROM act a JOIN firstd f USING (user_id)
        GROUP BY 1, 2
    """

    sql["text_repetition"] = f"""
        SELECT id, n_tokens, n_ngrams, n_distinct,
               CASE WHEN n_ngrams > 0
                    THEN round(1.0 - n_distinct / n_ngrams::DOUBLE, 6)
                    ELSE 0.0 END AS rep_frac
        FROM (
          SELECT doc_id AS id,
                 len(tk) AS n_tokens,
                 greatest(len(tk) - 1, 0) AS n_ngrams,
                 CASE WHEN len(tk) >= 2 THEN len(list_distinct(
                        list_transform(range(1, len(tk)),
                                       i -> tk[i] || ' ' || tk[i+1])))
                      ELSE 0 END AS n_distinct
          FROM (SELECT doc_id, {toks} AS tk FROM documents))
    """

    sql["tfidf_top_terms"] = f"""
        WITH tf AS (
          SELECT doc_id, token AS term, count(*) AS tf
          FROM (SELECT doc_id, unnest({toks}) AS token FROM documents)
          GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
        nn AS (SELECT count(*) AS n FROM documents),
        ranked AS (
          SELECT doc_id, term, tf, df_t,
                 tf * (ln((nn.n + 1) / (df_t + 1.0)) + 1.0) AS tfidf,
                 row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY tf * (ln((nn.n + 1) / (df_t + 1.0)) + 1.0)
                            DESC, term ASC) AS rnk
          FROM tf JOIN dfreq USING (term) CROSS JOIN nn)
        SELECT doc_id, term, tf, df_t, round(tfidf, 6) AS tfidf, rnk
        FROM ranked WHERE rnk <= 3
    """

    sql["stream_view_purchase_join"] = """
        SELECT p.event_id AS purchase_id, v.event_id AS view_id,
               p.user_id, round(p.value, 6) AS purchase_value
        FROM events p JOIN events v
          ON p.event_type = 'purchase' AND v.event_type = 'view'
         AND p.user_id = v.user_id
         AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    """

    sql["j_salted_skew_join"] = """
        SELECT li.l_orderkey, li.l_partkey, li.l_returnflag,
               round(li.l_extendedprice, 2) AS price,
               d.flag_avg_disc
        FROM lineitem li
        JOIN (SELECT l_returnflag,
                     round(avg(l_discount), 6) AS flag_avg_disc
              FROM lineitem GROUP BY 1) d USING (l_returnflag)
    """

    sql["f_variant_extract"] = """
        SELECT o_orderkey,
               o_orderstatus AS status,
               round(o_totalprice, 2) AS price,
               o_orderkey AS second_elem
        FROM orders
    """

    toks_d = _toks_sql("text")
    sql["pack_sequences"] = f"""
        WITH RECURSIVE t AS (
          SELECT doc_id AS id, doc_id // 100 AS shard,
                 len({toks_d}) AS tok,
                 row_number() OVER (PARTITION BY doc_id // 100
                                    ORDER BY doc_id) AS rn
          FROM documents WHERE text IS NOT NULL
        ), p AS (
          SELECT id, shard, rn, tok, tok AS fill,
                 CAST(0 AS BIGINT) AS bin
          FROM t WHERE rn = 1
          UNION ALL
          SELECT t.id, t.shard, t.rn, t.tok,
                 CASE WHEN p.fill + t.tok > 512 THEN t.tok
                      ELSE p.fill + t.tok END,
                 CASE WHEN p.fill + t.tok > 512 THEN p.bin + 1
                      ELSE p.bin END
          FROM t JOIN p ON t.shard = p.shard AND t.rn = p.rn + 1
        )
        SELECT id, shard, bin, fill AS fill_after FROM p
    """

    sql["s_incremental_read"] = """
        SELECT event_type, count(*) AS n,
               round(sum(value::DECIMAL(18,6)), 4)::DOUBLE AS total_value
        FROM events WHERE user_id % 2 <> 0 GROUP BY 1
    """

    sql["s_minmax_skipping"] = """
        SELECT l_returnflag, count(*) AS n,
               round(sum(l_quantity::DECIMAL(18,6)), 2)::DOUBLE AS sum_qty
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 23:59:59'
        GROUP BY 1
    """

    sql["s_snapshot_diff"] = """
        SELECT c_custkey + 2000000 AS c_custkey,
               'c#' || c_name AS c_name,
               round(c_acctbal, 2) AS acctbal, 'insert' AS op
        FROM customer WHERE c_custkey % 9 = 0
        UNION ALL
        SELECT c_custkey, c_name, round(c_acctbal, 2), 'delete'
        FROM customer WHERE c_custkey % 4 = 0
    """

    sql["s_wap_publish"] = """
        SELECT c_custkey, c_name,
               round(greatest(round(c_acctbal, 2), 0.0), 2) AS acctbal
        FROM customer
    """

    sql["s_expire_vacuum"] = """
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        FROM customer WHERE NOT (c_custkey % 3 = 0)
    """

    sql["mv_kmv_distinct"] = """
        WITH du AS (SELECT DISTINCT event_type, user_id
                    FROM events WHERE user_id IS NOT NULL),
        h AS (SELECT event_type,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                     1, 15))::BIGINT AS hh
              FROM du),
        r AS (SELECT event_type, hh, row_number() OVER (
                PARTITION BY event_type ORDER BY hh) AS rn
              FROM h),
        g AS (SELECT event_type, count(*) AS nd,
                     max(CASE WHEN rn = 32 THEN hh END) AS kth
              FROM r GROUP BY 1),
        n AS (SELECT event_type, count(*) AS n_rows
              FROM events GROUP BY 1)
        SELECT n.event_type, n.n_rows,
               round(CASE WHEN g.kth IS NULL
                          THEN CAST(coalesce(nd, 0) AS DOUBLE)
                          ELSE 31.0 * 1152921504606846976.0
                               / CAST(kth AS DOUBLE) END, 4)
                 AS distinct_est
        FROM n LEFT JOIN g ON g.event_type = n.event_type
    """

    sql["mv_incremental_refresh"] = """
        SELECT user_id % 100 AS cohort, event_type,
               count(*) AS n_rows,
               round(sum(value::DECIMAL(18,6)), 4)::DOUBLE AS sum_value,
               round(sum(value::DECIMAL(18,6))::DOUBLE / count(*), 6)
                 AS avg_value
        FROM events GROUP BY 1, 2
    """

    sql["s_compact_optimize"] = """
        SELECT event_id, user_id, event_type,
               round(value, 2) AS value
        FROM events
    """

    sql["s_merge_upsert"] = """
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN upper(c_name)
                    ELSE c_name END AS c_name,
               round(CASE WHEN c_custkey % 7 = 0
                          THEN round(c_acctbal, 2) + 1000
                          ELSE round(c_acctbal, 2) END, 2) AS acctbal
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000, 'new#' || c_name, 0.0
        FROM customer WHERE c_custkey % 11 = 0
    """

    sql["graph_triangles"] = """
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
    """

    sql["w_gap_islands"] = """
        SELECT user_id, event_type, count(*) AS run_len,
               min(event_id) AS first_event
        FROM (SELECT user_id, event_type, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                   - row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id) AS island
              FROM events)
        GROUP BY user_id, event_type, island
    """

    sql["a_pivot_event_matrix"] = """
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS click,
               count(*) FILTER (WHERE event_type = 'error')    AS error,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS signup,
               count(*) FILTER (WHERE event_type = 'view')     AS view
        FROM events GROUP BY 1
    """

    sql["a_percentiles"] = """
        SELECT l_returnflag, count(*) AS n,
               round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
               round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
               round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
               round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
        FROM lineitem GROUP BY 1
    """

    sql["a_cube_rollup"] = """
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice::DECIMAL(18,2))::DOUBLE, 2)
                 AS revenue
        FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """

    sql["w_running_analytics"] = """
        SELECT o_custkey, o_orderkey,
               round((sum(o_totalprice::DECIMAL(18,2)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING))::DOUBLE, 2)
                 AS running_spend,
               round((o_totalprice::DECIMAL(18,2) - lag(
                 o_totalprice::DECIMAL(18,2), 1) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey))::DOUBLE, 2)
                 AS delta_vs_prev,
               row_number() OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS order_seq
        FROM orders
    """

    # k-means: 2 Lloyd updates + final assignment, K=8, init = the 8
    # smallest vec_ids, argmin ties toward the smaller centroid id —
    # the exact algorithm of operators/clustering.py::kmeans_assign
    # (DOUBLE[] casts for the same reason as embedding_near_dup)
    km_assign = """
        a{K} AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.v, c.v) ASC, c.cid ASC) AS rn
          FROM e CROSS JOIN c{P} c) WHERE rn = 1)"""
    km_update = """
        m{K} AS (SELECT a{P}.cid, t.dim, avg(e.v[t.dim]) AS mv
          FROM e JOIN a{P} USING (vec_id)
          CROSS JOIN range(1, 65) t(dim)
          GROUP BY 1, 2),
        c{K} AS (SELECT c{P}.cid, coalesce(ml.v, c{P}.v) AS v
          FROM c{P} LEFT JOIN (SELECT cid, list(mv ORDER BY dim) AS v
                               FROM m{K} GROUP BY cid) ml USING (cid))"""
    sql["kmeans_clusters"] = ("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, v
               FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),"""
        + km_assign.format(K=0, P=0) + ","
        + km_update.format(K=1, P=0) + ","
        + km_assign.format(K=1, P=1) + ","
        + km_update.format(K=2, P=1) + """
        SELECT e.vec_id, c.cid AS cluster,
               round(list_distance(e.v, c.v), 6) AS dist
        FROM e CROSS JOIN c2 c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY list_distance(e.v, c.v) ASC, c.cid ASC) = 1
    """)

    # SemDeDup: the SAME 2-iteration Lloyd replay as kmeans_clusters
    # yields the blocking assignment; pairs are brute-forced within
    # clusters only (cosine math identical to embedding_near_dup)
    sql["semdedup_pairs"] = ("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, v
               FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),"""
        + km_assign.format(K=0, P=0) + ","
        + km_update.format(K=1, P=0) + ","
        + km_assign.format(K=1, P=1) + ","
        + km_update.format(K=2, P=1) + """,
        asg AS (
          SELECT e.vec_id, c.cid AS cluster
          FROM e CROSS JOIN c2 c
          QUALIFY row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_distance(e.v, c.v) ASC, c.cid ASC) = 1)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
        FROM asg a JOIN asg b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE list_cosine_similarity(ea.v, eb.v) >= 0.3
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
    sql["graph_pagerank"] = ("""
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
    """)

    # Adamic-Adar link prediction: wedge join through shared
    # neighbors, anti-join vs existing edges, degree-damped score
    sql["graph_link_prediction"] = """
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
    """

    sql["graph_jaccard_similarity"] = """
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
    """

    # deterministic walks: 3 unrolled md5 arg-min hops; with
    # walks_per_node=1, walk_id = start node
    sql["graph_walk_corpus"] = """
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
    """

    # skip-gram pairs: the walk CTEs above + one windowed self-join
    sql["graph_skipgram_pairs"] = """
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
    """

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
    sql["graph_ppr_recs"] = ("""
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
    """)

    # local clustering coefficient: canonical-order triangle replay
    # (each x<y<z triangle found once) + true degrees, deg≥2 nodes
    # with zero triangles kept via LEFT JOIN
    sql["graph_clustering_coeff"] = """
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
    """

    # Bellman-Ford min-plus relaxation, 3 unrolled rounds; BIGINT
    # path totals (integer weights — no float summation hazard)
    ss_iter = """
        it{K} AS (SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM it{P}
            UNION ALL
            SELECT e.dst AS node, p.dist + e.w AS dist
            FROM it{P} p JOIN e ON e.src = p.node) GROUP BY 1)"""
    sql["graph_sssp_weighted"] = ("""
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
    """)

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
    sql["graph_hits_bipartite"] = ("""
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
    """)

    # KMV distinct sketch: identical 60-bit lane, window rank, and
    # (k−1)·2^60/h_(k) estimate; 1152921504606846976 = 2^60
    sql["sketch_kmv_distinct"] = """
        WITH hashed AS (
          SELECT DISTINCT l_returnflag, l_linestatus,
                 ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),
                                 1, 15))::BIGINT AS h
          FROM lineitem WHERE l_partkey IS NOT NULL),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY l_returnflag, l_linestatus
            ORDER BY h) AS rn
          FROM hashed),
        per_group AS (
          SELECT l_returnflag, l_linestatus,
                 count(*) AS n_distinct_exact,
                 max(CASE WHEN rn = 64 THEN h END) AS kth
          FROM ranked GROUP BY 1, 2)
        SELECT l_returnflag, l_linestatus, n_distinct_exact,
               round(CASE WHEN kth IS NULL
                     THEN CAST(n_distinct_exact AS DOUBLE)
                     ELSE 63.0 * 1152921504606846976.0
                          / CAST(kth AS DOUBLE) END, 4)
                 AS n_distinct_kmv
        FROM per_group
    """

    # count-min over token bigrams: same 60-bit lane mod 256, depth 4
    sql["sketch_cms_bigrams"] = """
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split(text, ' ')) AS tok,
                 generate_subscripts(string_split(text, ' '), 1)
                   AS pos
          FROM documents WHERE text IS NOT NULL),
        toks2 AS (SELECT doc_id, tok, pos FROM toks WHERE tok <> ''),
        bigrams AS (
          SELECT tok || ' ' || lead(tok) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS term,
                 lead(tok) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS nxt
          FROM toks2),
        terms AS (SELECT term FROM bigrams WHERE nxt IS NOT NULL),
        depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
        cells AS (
          SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                        || term), 1, 15))::BIGINT
                      % 256 AS bucket
          FROM terms, depths),
        bucket_counts AS (
          SELECT d, bucket, count(*) AS bucket_n
          FROM cells GROUP BY 1, 2),
        exact AS (SELECT term, count(*) AS n_exact
                  FROM terms GROUP BY 1),
        probes AS (
          SELECT term, d,
                 ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                     || term), 1, 15))::BIGINT
                   % 256 AS bucket
          FROM exact, depths),
        est AS (SELECT term, min(bucket_n) AS n_cms
                FROM probes JOIN bucket_counts USING (d, bucket)
                GROUP BY term)
        SELECT term, n_exact, n_cms FROM exact JOIN est USING (term)
    """

    # temperature mixing weights: n^0.7 normalized + 10k budget
    sql["domain_mix_temperature"] = """
        WITH counts AS (
          SELECT source, count(*) AS n_docs
          FROM documents GROUP BY 1),
        p AS (SELECT source, n_docs,
                     pow(CAST(n_docs AS DOUBLE), 0.7) AS pp
              FROM counts),
        t AS (SELECT sum(pp) AS tot FROM p)
        SELECT source, n_docs,
               round(pp / tot, 6) AS weight,
               round(pp / tot * 10000.0, 6) AS expected_docs
        FROM p CROSS JOIN t
    """

    # distributed PCA: double-unnest covariance, 3 unrolled
    # power-iteration rounds (it0 = uniform 1/√64), per-row
    # projection (x−μ)·v
    pca_iter = """
        it{K}r AS (SELECT cov.i, sum(cov.c * p.v) AS w
                   FROM cov JOIN it{P} p ON p.i = cov.j GROUP BY 1),
        it{K}n AS (SELECT sqrt(sum(w * w)) AS nrm FROM it{K}r),
        it{K} AS (SELECT i, w / nrm AS v
                  FROM it{K}r CROSS JOIN it{K}n)"""
    sql["emb_pca_project"] = ("""
        WITH el AS (
          SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                 unnest(embedding)::DOUBLE AS x
          FROM embeddings),
        nn AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
        mu AS (SELECT i, sum(x) / nn.n AS mu
               FROM el CROSS JOIN nn GROUP BY i, nn.n),
        cov AS (
          SELECT a.i AS i, b.i AS j,
                 sum(a.x * b.x) / nn.n - ma.mu * mb.mu AS c
          FROM el a JOIN el b USING (vec_id) CROSS JOIN nn
          JOIN mu ma ON ma.i = a.i JOIN mu mb ON mb.i = b.i
          GROUP BY a.i, b.i, nn.n, ma.mu, mb.mu),
        it0 AS (SELECT i, 1.0 / sqrt(64.0) AS v
                FROM range(1, 65) t(i)),"""
        + pca_iter.format(K=1, P=0) + ","
        + pca_iter.format(K=2, P=1) + ","
        + pca_iter.format(K=3, P=2) + """
        SELECT el.vec_id,
               round(sum((el.x - mu.mu) * it3.v), 6) AS pc1
        FROM el JOIN mu USING (i) JOIN it3 USING (i)
        GROUP BY el.vec_id
    """)

    # Markov transition matrix: lead window + row-normalized counts
    sql["events_markov_transitions"] = """
        WITH pairs AS (
          SELECT event_type AS from_state,
                 lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_state
          FROM events),
        counts AS (SELECT from_state, to_state, count(*) AS n
                   FROM pairs WHERE to_state IS NOT NULL
                   GROUP BY 1, 2)
        SELECT from_state, to_state, n,
               round(n::DOUBLE / sum(n) OVER (
                 PARTITION BY from_state), 6) AS p
        FROM counts
    """

    # char entropy: H = −Σ n_c·log2(n_c)/n + log2(n) (same algebraic
    # form as the Spark plan so the float path is identical)
    sql["text_char_entropy"] = """
        WITH chars AS (
          SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1, length(text))) AS i
                FROM documents WHERE text IS NOT NULL)),
        freq AS (SELECT doc_id, ch, count(*) AS n_c
                 FROM chars WHERE ch <> '' GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(n_c) AS BIGINT) AS n_chars,
               round((-sum(n_c * log2(n_c::DOUBLE))) / sum(n_c)
                     + log2(sum(n_c)::DOUBLE), 6) AS entropy
        FROM freq GROUP BY doc_id
    """

    # histogram quantile sketch: width = 110000/128 = 859.375 exactly;
    # estimate = midpoint of first bin with cum ≥ ceil(q·n)
    sql["sketch_histogram_quantiles"] = """
        WITH cells AS (
          SELECT l_returnflag,
                 CAST(least(greatest(floor(
                   (l_extendedprice - 0.0) / 859.375), 0), 127)
                   AS INTEGER) AS bin,
                 count(*) AS c
          FROM lineitem GROUP BY 1, 2),
        cum AS (
          SELECT l_returnflag, bin,
                 sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(c) OVER (PARTITION BY l_returnflag) AS n
          FROM cells),
        ests AS (
          SELECT l_returnflag,
                 CAST(max(n) AS BIGINT) AS n,
                 0.0 + (min(CASE WHEN cum >= ceil(n * 0.5)
                            THEN bin END) + 0.5) * 859.375 AS q50_est,
                 0.0 + (min(CASE WHEN cum >= ceil(n * 0.95)
                            THEN bin END) + 0.5) * 859.375 AS q95_est
          FROM cum GROUP BY 1),
        exact AS (
          SELECT l_returnflag,
                 round(quantile_cont(l_extendedprice, 0.5), 6)
                   AS q50_exact,
                 round(quantile_cont(l_extendedprice, 0.95), 6)
                   AS q95_exact
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, n, q50_est, q95_est, q50_exact, q95_exact
        FROM ests JOIN exact USING (l_returnflag)
    """

    # time-decayed engagement: integer day diff vs the fixed ref date
    sql["events_time_decay"] = """
        SELECT user_id, count(*) AS n_events,
               round(sum(value * pow(0.95,
                 CAST(date_diff('day', CAST(ts AS DATE),
                                DATE '2024-02-01') AS DOUBLE))), 6)
                 AS decayed_value
        FROM events GROUP BY 1
    """

    # product quantization: per-subspace Lloyd replay (the
    # kmeans_clusters CTE pattern on list_slice subvectors), encode =
    # final assignment, ADC = Σ_sub list_distance(q_sub, centroid)²,
    # ranking by ROUNDED distance + id (engine-order reproducible)
    pq_sub = """
        es{S} AS (SELECT vec_id, list_slice(v, {LO}, {HI}) AS v
                  FROM e),
        cs{S}0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1
                            AS cid, v
                   FROM (SELECT vec_id, v FROM es{S}
                         ORDER BY vec_id LIMIT 16)),
        as{S}0 AS (SELECT vec_id, cid FROM (
          SELECT e2.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e2.vec_id
                   ORDER BY list_distance(e2.v, c.v) ASC,
                            c.cid ASC) AS rn
          FROM es{S} e2 CROSS JOIN cs{S}0 c) WHERE rn = 1),
        ms{S}1 AS (SELECT a.cid, t.dim, avg(e2.v[t.dim]) AS mv
                   FROM es{S} e2 JOIN as{S}0 a USING (vec_id)
                   CROSS JOIN range(1, 17) t(dim)
                   GROUP BY 1, 2),
        cs{S}1 AS (SELECT c0.cid, coalesce(ml.v, c0.v) AS v
                   FROM cs{S}0 c0 LEFT JOIN (
                     SELECT cid, list(mv ORDER BY dim) AS v
                     FROM ms{S}1 GROUP BY cid) ml USING (cid)),
        code{S} AS (SELECT vec_id, cid FROM (
          SELECT e2.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e2.vec_id
                   ORDER BY list_distance(e2.v, c.v) ASC,
                            c.cid ASC) AS rn
          FROM es{S} e2 CROSS JOIN cs{S}1 c) WHERE rn = 1),
        adc{S} AS (SELECT q.query_id, cd.vec_id,
                          list_distance(list_slice(q.v, {LO}, {HI}),
                                        c.v) ** 2 AS dpart
                   FROM q CROSS JOIN code{S} cd
                   JOIN cs{S}1 c ON c.cid = cd.cid)"""
    sql["ann_pq_adc_topk"] = ("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v FROM e
              ORDER BY vec_id LIMIT 5),"""
        + ",".join(pq_sub.format(S=s, LO=16 * s + 1, HI=16 * s + 16)
                   for s in range(4)) + """
        SELECT query_id, vec_id, round(adc, 6) AS adc_dist FROM (
          SELECT query_id, vec_id, sum(dpart) AS adc FROM (
            SELECT * FROM adc0 UNION ALL SELECT * FROM adc1
            UNION ALL SELECT * FROM adc2 UNION ALL SELECT * FROM adc3)
          GROUP BY 1, 2)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY round(adc, 6) ASC, vec_id ASC) <= 10
    """)

    # CSV round-trip: the oracle reads the ORIGINAL parquet — equality
    # proves the Spark CSV write+read lossless
    sql["s_csv_roundtrip"] = """
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """

    # rollback: post-rollback read ≡ the original load
    sql["s_rollback"] = """
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """

    # null-safe join: IS NOT DISTINCT FROM ≡ eqNullSafe
    sql["j_null_safe_join"] = """
        WITH o AS (SELECT nullif(o_orderstatus, 'O') AS k FROM orders),
        dim(k, label) AS (VALUES ('F', 'finished'), ('P', 'pending'),
                                 (NULL, 'open'))
        SELECT label, count(*) AS n_orders
        FROM o JOIN dim ON o.k IS NOT DISTINCT FROM dim.k
        GROUP BY 1
    """

    # EXCEPT ALL on distinct inputs ≡ EXCEPT; INTERSECT distinct
    sql["u_except_intersect"] = """
        WITH modes AS (SELECT DISTINCT o_orderstatus AS v FROM orders),
        flags AS (SELECT DISTINCT l_linestatus AS v FROM lineitem)
        SELECT v, 'except' AS op FROM (
          SELECT v FROM modes EXCEPT SELECT v FROM flags)
        UNION ALL
        SELECT v, 'intersect' AS op FROM (
          SELECT v FROM modes INTERSECT SELECT v FROM flags)
    """

    # per-dim moments: 0-based dim to match posexplode; identical
    # E[x²]−E[x]² algebraic form
    sql["emb_dim_profile"] = """
        WITH el AS (
          SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(embedding)::DOUBLE AS x
          FROM embeddings)
        SELECT dim, count(*) AS n,
               round(sum(x) / count(*), 6) AS mean,
               round(sum(x * x) / count(*)
                     - (sum(x) / count(*)) ** 2, 6) AS variance
        FROM el GROUP BY 1
    """

    # RANGE frame in integer microseconds; DECIMAL sums order-free
    sql["w_trailing_range_frame"] = """
        SELECT event_id, user_id,
               round(sum(value::DECIMAL(18,6)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 259200000000 PRECEDING
                       AND CURRENT ROW), 4)::DOUBLE AS trail_value,
               count(*) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 259200000000 PRECEDING
                       AND CURRENT ROW) AS trail_n
        FROM events
    """

    # KMV overlap: identical window/merge/inclusion–exclusion replay;
    # arithmetic on ALREADY-ROUNDED singles/union keeps both engines
    # on the same doubles
    sql["sketch_kmv_overlap"] = """
        WITH hashed AS (
          SELECT DISTINCT event_type AS s,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                 1, 15))::BIGINT AS h
          FROM events WHERE user_id IS NOT NULL),
        sk AS (SELECT s, h, rn FROM (
          SELECT s, h, row_number() OVER (PARTITION BY s
                                          ORDER BY h) AS rn
          FROM hashed) WHERE rn <= 64),
        per_set AS (SELECT s, count(*) AS n_sk,
                           max(CASE WHEN rn = 64 THEN h END) AS kth
                    FROM sk GROUP BY 1),
        singles AS (SELECT s,
                           round(CASE WHEN kth IS NULL
                                 THEN n_sk::DOUBLE
                                 ELSE 63.0 * 1152921504606846976.0
                                      / kth::DOUBLE END, 4) AS e
                    FROM per_set),
        pairs AS (SELECT a.s AS set_a, b.s AS set_b
                  FROM (SELECT DISTINCT s FROM sk) a
                  JOIN (SELECT DISTINCT s FROM sk) b ON a.s < b.s),
        merged AS (
          SELECT DISTINCT set_a, set_b, h FROM (
            SELECT p.set_a, p.set_b, k1.h
            FROM pairs p JOIN sk k1 ON k1.s = p.set_a
            UNION ALL
            SELECT p.set_a, p.set_b, k2.h
            FROM pairs p JOIN sk k2 ON k2.s = p.set_b)),
        uk AS (SELECT set_a, set_b, count(*) AS n_sk,
                      max(CASE WHEN rn = 64 THEN h END) AS kth
               FROM (SELECT set_a, set_b, h,
                            row_number() OVER (
                              PARTITION BY set_a, set_b
                              ORDER BY h) AS rn
                     FROM merged) WHERE rn <= 64 GROUP BY 1, 2),
        eu AS (SELECT set_a, set_b,
                      round(CASE WHEN kth IS NULL THEN n_sk::DOUBLE
                            ELSE 63.0 * 1152921504606846976.0
                                 / kth::DOUBLE END, 4) AS est_union
               FROM uk),
        exact_i AS (SELECT x.s AS set_a, y.s AS set_b,
                           count(*) AS n_intersect_exact
                    FROM hashed x JOIN hashed y
                      ON x.h = y.h AND x.s < y.s GROUP BY 1, 2)
        SELECT eu.set_a, eu.set_b, ea.e AS est_a, eb.e AS est_b,
               eu.est_union,
               greatest(round(ea.e + eb.e - eu.est_union, 4), 0.0)
                 AS est_intersect,
               round(greatest(round(ea.e + eb.e - eu.est_union, 4),
                              0.0) / eu.est_union, 6) AS jaccard_est,
               CAST(coalesce(i.n_intersect_exact, 0) AS BIGINT)
                 AS n_intersect_exact
        FROM eu JOIN singles ea ON ea.s = eu.set_a
        JOIN singles eb ON eb.s = eu.set_b
        LEFT JOIN exact_i i USING (set_a, set_b)
    """

    # date spine: generate_series ≡ F.sequence; zero days kept
    sql["events_date_spine_gaps"] = """
        WITH spine AS (
          SELECT unnest(generate_series(DATE '2024-01-01',
                                        DATE '2024-01-31',
                                        INTERVAL 1 DAY))::DATE AS day),
        daily AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS n
          FROM events GROUP BY 1)
        SELECT strftime(spine.day, '%Y-%m-%d') AS day,
               CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events,
               coalesce(daily.n, 0) = 0 AS is_gap
        FROM spine LEFT JOIN daily USING (day)
    """

    # RAKE: islands replay (pos − row_number; DuckDB's 1-based
    # subscripts shift pos AND island uniformly — grouping unchanged),
    # exact-int word stats, rank over the ROUNDED score
    sql["text_rake_keyphrases"] = """
        WITH toks AS (
          SELECT doc_id AS doc,
                 unnest(string_split(text, ' ')) AS tok,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents WHERE text IS NOT NULL),
        ns AS (SELECT doc, tok, pos FROM toks
               WHERE tok <> '' AND tok NOT IN
                 ('the','a','and','of','to','in','is','that',
                  'for','with')),
        isl AS (SELECT doc, tok, pos,
                       pos - row_number() OVER (
                         PARTITION BY doc ORDER BY pos) AS island
                FROM ns),
        inst AS (SELECT doc, island,
                        string_agg(tok, ' ' ORDER BY pos) AS phrase,
                        count(*) AS plen
                 FROM isl GROUP BY 1, 2 HAVING count(*) <= 4),
        members AS (SELECT isl.tok, inst.plen, isl.doc, isl.island
                    FROM isl JOIN inst USING (doc, island)),
        wscore AS (SELECT tok, sum(plen)::DOUBLE / count(*) AS wscore
                   FROM members GROUP BY 1),
        pscores AS (SELECT m.doc, m.island, sum(w.wscore) AS pscore
                    FROM members m JOIN wscore w USING (tok)
                    GROUP BY 1, 2),
        ranked AS (SELECT i.phrase, count(*) AS n_occurrences,
                          round(min(p.pscore), 6) AS score
                   FROM inst i JOIN pscores p USING (doc, island)
                   GROUP BY 1)
        SELECT phrase, n_occurrences, score,
               row_number() OVER (ORDER BY score DESC, phrase ASC)
                 AS rank
        FROM ranked
        QUALIFY rank <= 25
    """

    # unpivot: DuckDB UNPIVOT ≡ Spark df.unpivot; DECIMAL sums keep
    # the totals order-independent
    sql["a_unpivot_measures"] = """
        WITH long AS (
          UNPIVOT (SELECT l_returnflag, l_quantity, l_extendedprice,
                          l_discount, l_tax FROM lineitem)
          ON l_quantity, l_extendedprice, l_discount, l_tax
          INTO NAME measure VALUE value)
        SELECT l_returnflag, measure, count(*) AS n,
               round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total
        FROM long GROUP BY 1, 2
    """

    # Matryoshka truncation: cosine over the first-16-dim slices
    sql["ann_matryoshka_topk"] = """
        WITH t AS (SELECT vec_id,
                          list_slice(embedding::DOUBLE[], 1, 16) AS v
                   FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(q.v, c.v) AS s
          FROM t q JOIN t c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20),
        ranked AS (
          SELECT query_id, corpus_id, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY s DESC, corpus_id ASC) AS rank
          FROM scored)
        SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 5
    """

    sql["ann_matryoshka_recall"] = """
        WITH full_scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS s
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20),
        full5 AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY s DESC, corpus_id ASC) AS rank
            FROM full_scored) WHERE rank <= 5),
        t AS (SELECT vec_id,
                     list_slice(embedding::DOUBLE[], 1, 16) AS v
              FROM embeddings),
        tr_scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(q.v, c.v) AS s
          FROM t q JOIN t c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20),
        tr5 AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY s DESC, corpus_id ASC) AS rank
            FROM tr_scored) WHERE rank <= 5),
        hits AS (
          SELECT f.query_id, count(*) AS n_hits
          FROM full5 f JOIN tr5 t2
            ON t2.query_id = f.query_id
           AND t2.corpus_id = f.corpus_id
          GROUP BY 1),
        base AS (SELECT query_id, count(*) AS k
                 FROM full5 GROUP BY 1)
        SELECT b.query_id,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               round(coalesce(h.n_hits, 0) / CAST(b.k AS DOUBLE), 6)
                 AS recall_at_5
        FROM base b LEFT JOIN hits h ON h.query_id = b.query_id
    """

    # streaming CMS: unigram tokens, width 16 (31-word vocab ⇒ real
    # collisions), same 60-bit lane — the drained complete-mode state
    # equals this batch replay exactly
    sql["stream_cms_heavy_hitters"] = """
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS term
          FROM documents WHERE text IS NOT NULL),
        toks2 AS (SELECT term FROM toks
                  WHERE term <> '' AND term IS NOT NULL),
        depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
        cells AS (
          SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                        || term), 1, 15))::BIGINT
                      % 16 AS bucket
          FROM toks2, depths),
        bucket_counts AS (
          SELECT d, bucket, count(*) AS bucket_n
          FROM cells GROUP BY 1, 2),
        exact AS (SELECT term, count(*) AS n_exact
                  FROM toks2 GROUP BY 1),
        probes AS (
          SELECT term, d,
                 ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                     || term), 1, 15))::BIGINT
                   % 16 AS bucket
          FROM exact, depths),
        est AS (SELECT term, min(bucket_n) AS n_cms
                FROM probes JOIN bucket_counts USING (d, bucket)
                GROUP BY term)
        SELECT term, n_exact, n_cms FROM exact JOIN est USING (term)
    """

    # skew profile: one count pass, window math on the key table
    sql["j_skew_key_profile"] = """
        WITH counts AS (
          SELECT l_suppkey AS key, count(*) AS n_rows
          FROM lineitem GROUP BY 1),
        ranked AS (
          SELECT key, n_rows,
                 sum(n_rows) OVER () AS tot,
                 row_number() OVER (ORDER BY n_rows DESC, key ASC)
                   AS rank,
                 sum(n_rows) OVER (ORDER BY n_rows DESC, key ASC
                                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM counts)
        SELECT key, n_rows,
               round(n_rows::DOUBLE / tot::DOUBLE, 9) AS share,
               round(cum::DOUBLE / tot::DOUBLE, 9) AS cum_share,
               rank
        FROM ranked WHERE rank <= 10
    """

    # session paths: the sessionize_events 4h-gap CTEs + first-5-step
    # string_agg journeys, counted and ranked
    sql["events_session_paths"] = """
        WITH g AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts) AS prev_us
          FROM events),
        f AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN prev_us IS NULL
                        OR epoch_us(ts) - prev_us > 14400000000
                      THEN 1 ELSE 0 END AS ns
          FROM g),
        s AS (
          SELECT user_id, ts, event_id, event_type,
                 (sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING))::BIGINT
                   AS session_idx
          FROM f),
        steps AS (
          SELECT user_id, session_idx, event_type,
                 row_number() OVER (PARTITION BY user_id, session_idx
                   ORDER BY ts, event_id) AS step
          FROM s),
        paths AS (
          SELECT user_id, session_idx,
                 string_agg(event_type, '>' ORDER BY step) AS path
          FROM steps WHERE step <= 5 GROUP BY 1, 2),
        counted AS (
          SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1)
        SELECT path, n_sessions,
               row_number() OVER (ORDER BY n_sessions DESC, path ASC)
                 AS rank
        FROM counted
        QUALIFY rank <= 20
    """

    # IVF-PQ: coarse Lloyd replay (the kmeans CTE pattern, k=8, one
    # update) gives inverted lists + per-query nprobe=2 probes; the
    # PQ subspace CTEs (pq_sub, shared with ann_pq_adc_topk) give the
    # codes; ADC restricted to probed-list candidates before ranking
    sql["ann_ivfpq_topk"] = ("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v FROM e
              ORDER BY vec_id LIMIT 5),
        c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, v
               FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),"""
        + km_assign.format(K=0, P=0) + ","
        + km_update.format(K=1, P=0) + """,
        lst AS (SELECT vec_id, cid AS cluster FROM (
          SELECT e2.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e2.vec_id
                   ORDER BY list_distance(e2.v, c.v) ASC,
                            c.cid ASC) AS rn
          FROM e e2 CROSS JOIN c1 c) WHERE rn = 1),
        probes AS (SELECT query_id, cid AS cluster FROM (
          SELECT q.query_id, c.cid,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_distance(q.v, c.v) ASC,
                            c.cid ASC) AS rn
          FROM q CROSS JOIN c1 c) WHERE rn <= 2),"""
        + ",".join(pq_sub.format(S=s, LO=16 * s + 1, HI=16 * s + 16)
                   for s in range(4)) + """
        SELECT query_id, vec_id, round(adc, 6) AS adc_dist FROM (
          SELECT a.query_id, a.vec_id, sum(a.dpart) AS adc FROM (
            SELECT * FROM adc0 UNION ALL SELECT * FROM adc1
            UNION ALL SELECT * FROM adc2 UNION ALL SELECT * FROM adc3) a
          JOIN lst ON lst.vec_id = a.vec_id
          JOIN probes p ON p.query_id = a.query_id
                       AND p.cluster = lst.cluster
          GROUP BY 1, 2)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY round(adc, 6) ASC, vec_id ASC) <= 10
    """)

    # LPA: 3 unrolled synchronous rounds, exact BIGINT weight tallies,
    # max-weight/min-label adoption — over the same co-purchase graph
    lpa_round = """
        t{K} AS (SELECT e.dst AS node, l.label, sum(e.w) AS wt
                 FROM e JOIN l{P} l ON e.src = l.node
                 GROUP BY 1, 2),
        l{K} AS (SELECT node, label FROM t{K}
                 QUALIFY row_number() OVER (PARTITION BY node
                   ORDER BY wt DESC, label ASC) = 1)"""
    sql["graph_lpa_communities"] = ("""
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
    """)

    # modularity: LPA round CTEs (shared with graph_lpa_communities)
    # + exact-BIGINT internal/degree sums, two float divides at the end
    sql["graph_modularity"] = ("""
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
    """)


    sql["dedup_exact"] = f"""
        SELECT md5({_norm_sql('text')}) AS fingerprint,
               min(doc_id) AS keep_id, count(*) AS n_dups
        FROM documents GROUP BY 1
    """

    # word-3-gram shingles in DuckDB; short docs → whole-doc shingle
    shingle_cte = f"""
        toks AS (SELECT doc_id AS id, {toks} AS tk FROM documents),
        sh AS (
          SELECT id, CASE
            WHEN len(tk) >= 3 THEN list_distinct(list_transform(
                   range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
            WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
            ELSE []::VARCHAR[] END AS shs
          FROM toks),
        post AS (SELECT id, unnest(shs) AS s FROM sh),
        sizes AS (SELECT id, count(*) AS sz FROM post GROUP BY 1),
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
          FROM post a JOIN post b ON a.s = b.s AND a.id < b.id
          GROUP BY 1, 2)
    """
    sql["dedup_ngram_jaccard"] = f"""
        WITH {shingle_cte}
        SELECT id_a, id_b,
               round(inter / (sa.sz + sb.sz - inter)::DOUBLE, 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = inter.id_a
        JOIN sizes sb ON sb.id = inter.id_b
        WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.35
    """

    # generic key-blocking datasheet: truth = same brute-force
    # Jaccard pairs; candidates counted from (lang, source) block sizes
    sql["er_key_blocking_metrics"] = f"""
        WITH {shingle_cte},
        truth AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.id = inter.id_a
          JOIN sizes sb ON sb.id = inter.id_b
          WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.35),
        keyed AS (SELECT doc_id, lang, source FROM documents
                  WHERE lang IS NOT NULL AND source IS NOT NULL),
        bs AS (SELECT lang, source, count(*) AS nb FROM keyed
               GROUP BY 1, 2),
        c AS (SELECT CAST(coalesce(sum(nb * (nb - 1) / 2), 0) AS BIGINT)
                       AS n_candidates,
                     CAST(coalesce(sum(nb), 0) AS BIGINT) AS n_docs
              FROM bs),
        m AS (SELECT count(*) AS n_matched FROM truth t
              JOIN keyed a ON a.doc_id = t.id_a
              JOIN keyed b ON b.doc_id = t.id_b
               AND a.lang = b.lang AND a.source = b.source),
        tt AS (SELECT count(*) AS n_true FROM truth)
        SELECT n_docs, n_true, n_candidates, n_matched,
               round(CASE WHEN n_true > 0
                          THEN n_matched / n_true::DOUBLE
                          ELSE 1.0 END, 6) AS pairs_completeness,
               round(1.0 - n_candidates
                     / (n_docs * (n_docs - 1) / 2.0), 6)
                 AS reduction_ratio
        FROM c, m, tt
    """

    # threshold sweep: same brute-force pairs, banded counts
    sql["dedup_threshold_sweep"] = f"""
        WITH {shingle_cte},
        sc AS (SELECT inter / (sa.sz + sb.sz - inter)::DOUBLE AS j
               FROM inter
               JOIN sizes sa ON sa.id = inter.id_a
               JOIN sizes sb ON sb.id = inter.id_b
               WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.35)
        SELECT CASE WHEN j >= 0.9 THEN '0.90+'
                    WHEN j >= 0.7 THEN '0.70-0.90'
                    WHEN j >= 0.5 THEN '0.50-0.70'
                    ELSE '0.35-0.50' END AS band,
               count(*) AS n_pairs
        FROM sc GROUP BY 1
    """

    # z-order key: identical bucket arithmetic (exact BIGINT ops + one
    # IEEE double division) + bit interleave rebuilt with SQL shifts
    _z_terms = " | ".join(
        f"(((b{i} >> {b}) & 1) << {2 * b + i})"
        for b in range(16) for i in (0, 1))
    sql["zorder_events_key"] = f"""
        WITH bkt AS (
          SELECT event_id,
                 greatest(0, least(65535,
                   CAST(floor((user_id - 0) * 65535 / 2000)
                        AS BIGINT))) AS b0,
                 greatest(0, least(65535,
                   CAST(floor((CAST(floor(value * 100) AS BIGINT) - 0)
                              * 65535 / 100000) AS BIGINT))) AS b1
          FROM events)
        SELECT event_id, {_z_terms} AS zkey FROM bkt
    """

    # int8 quantization: the integer codes re-derived elementwise in
    # SQL (identical IEEE double ops + portable floor(x+0.5) rounding
    # → checksums compare EXACTLY); float error stats rounded
    sql["emb_quantize_int8"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        s AS (SELECT vec_id, v,
                     coalesce(list_max(list_transform(v, x -> abs(x))),
                              0.0) AS scale
              FROM e),
        q AS (SELECT vec_id, v, scale,
                     CASE WHEN scale = 0
                          THEN list_transform(v, x -> CAST(0 AS BIGINT))
                          ELSE list_transform(v, x ->
                            CAST(floor(x * 127.0 / scale + 0.5)
                                 AS BIGINT)) END AS qv
              FROM s),
        err AS (SELECT vec_id, scale, qv,
                       list_transform(range(1, len(v) + 1),
                         i -> abs(qv[i] * scale / 127.0 - v[i])) AS ev,
                       len(v) AS dim
                FROM q)
        SELECT vec_id, round(scale, 6) AS scale,
               coalesce(list_sum(qv), 0)::BIGINT AS q_sum,
               coalesce(list_sum(list_transform(qv, x -> abs(x))),
                        0)::BIGINT AS q_l1,
               round(coalesce(list_max(ev), 0.0), 6) AS max_err,
               round(coalesce(list_sum(
                       list_transform(ev, x -> x * x)), 0.0)
                     / greatest(dim, 1), 8) AS mse
        FROM err
    """

    # int8 ANN: same quantization CTE, then EXACT integer dot products
    # (BIGINT here, exact small-int float64 einsum in the kernel) —
    # scores agree bit-for-bit, ranks need no tolerance
    sql["ann_int8_topk"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        s AS (SELECT vec_id, v,
                     coalesce(list_max(list_transform(v, x -> abs(x))),
                              0.0) AS scale
              FROM e),
        q AS (SELECT vec_id,
                     CASE WHEN scale = 0
                          THEN list_transform(v, x -> CAST(0 AS BIGINT))
                          ELSE list_transform(v, x ->
                            CAST(floor(x * 127.0 / scale + 0.5)
                                 AS BIGINT)) END AS qv
              FROM s),
        qq AS (SELECT vec_id, qv,
                      coalesce(list_sum(list_transform(qv, x -> x * x)),
                               0)::BIGINT AS nrm
               FROM q),
        pairs AS (
          SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
                 coalesce(list_sum(list_transform(
                     range(1, len(a.qv) + 1),
                     i -> a.qv[i] * b.qv[i])), 0)::BIGINT AS dot,
                 a.nrm AS qn, b.nrm AS cn
          FROM qq a JOIN qq b ON a.vec_id <> b.vec_id
          WHERE a.vec_id < 20),
        scored AS (
          SELECT query_id, corpus_id,
                 dot / greatest(sqrt(qn) * sqrt(cn), 1e-300) AS sc
          FROM pairs),
        ranked AS (
          SELECT query_id, corpus_id, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY sc DESC, corpus_id ASC) AS rank
          FROM scored)
        SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 5
    """

    # domain mixing + split: identical integer thresholds to the Spark
    # query (both derive from _MIX_RATES/_SPLIT_WEIGHTS)
    from fashion_knowledge_graph_spark.operators.sampling import (
        rate_threshold,
    )
    _mix_case = "CASE lang " + " ".join(
        f"WHEN '{d}' THEN {rate_threshold(r)}"
        for d, r in sorted(_MIX_RATES.items())) + " ELSE 0 END"
    _names = list(_SPLIT_WEIGHTS)
    _acc, _cuts = 0.0, []
    for _nm in _names[:-1]:
        _acc += _SPLIT_WEIGHTS[_nm]
        _cuts.append(rate_threshold(_acc))
    _split_case = "CASE " + " ".join(
        f"WHEN hp < {c} THEN '{n}'"
        for n, c in zip(_names[:-1], _cuts)) + f" ELSE '{_names[-1]}' END"
    sql["domain_mix_split"] = f"""
        WITH h AS (
          SELECT doc_id, lang, source,
                 ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT AS hm,
                 ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT AS hp
          FROM documents)
        SELECT doc_id, lang, source, {_split_case} AS split
        FROM h WHERE hm < {_mix_case}
    """

    # bigram LM with stupid backoff: model = the hash_split train
    # band (same integer threshold as domain_mix_split); seen bigrams
    # score ln(c_ab/c_w1), unseen back off to the smoothed unigram —
    # all exact integer ratios inside ln
    _train_cut = rate_threshold(_SPLIT_WEIGHTS[_names[0]])
    sql["text_bigram_lm"] = f"""
        WITH d AS (SELECT doc_id, {toks} AS tk
                   FROM documents WHERE text IS NOT NULL),
        model AS (
          SELECT tk FROM d
          WHERE ('0x' || substr(md5('split:' || doc_id::VARCHAR),
                                1, 15))::BIGINT < {_train_cut}),
        munn AS (SELECT unnest(tk) AS w FROM model),
        mu AS (SELECT w, count(*) AS c_w FROM munn GROUP BY 1),
        mb AS (SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS c_ab
               FROM model, LATERAL unnest(range(1, len(tk))) AS t(i)
               GROUP BY 1, 2),
        tot AS (SELECT sum(c_w)::BIGINT AS n_tok,
                       count(*)::BIGINT AS vocab FROM mu),
        db AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
               FROM d, LATERAL unnest(range(1, len(tk))) AS t(i))
        SELECT doc_id, count(*) AS n_bigrams,
               round(sum(CASE WHEN c_ab IS NOT NULL
                         THEN ln(c_ab::DOUBLE / u1.c_w)
                         ELSE ln(0.4 * (coalesce(u2.c_w, 0) + 1)::DOUBLE
                                 / (n_tok + vocab)) END)
                     / count(*), 6) AS mean_logp
        FROM db
        LEFT JOIN mb ON mb.w1 = db.w1 AND mb.w2 = db.w2
        LEFT JOIN mu u1 ON u1.w = db.w1
        LEFT JOIN mu u2 ON u2.w = db.w2, tot
        GROUP BY 1
    """

    sql["weighted_doc_sample"] = """
        WITH es AS (
          SELECT doc_id, lang, n_chars,
                 ln(((('0x' || substr(md5('wsample:'
                        || doc_id::VARCHAR), 1, 15))::BIGINT + 1)
                     ::DOUBLE) / 1152921504606846976.0)
                   / n_chars::DOUBLE AS es_key
          FROM documents
          WHERE n_chars IS NOT NULL AND n_chars > 0)
        SELECT doc_id, lang, n_chars
        FROM (SELECT *, row_number() OVER (
                PARTITION BY lang
                ORDER BY es_key DESC, doc_id ASC) AS rn FROM es) z
        WHERE rn <= 10
    """

    _g10 = " || ' ' || ".join(f"tk[i+{j}]" for j in range(10))
    sql["dedup_dup_spans"] = f"""
        WITH tk10 AS (SELECT doc_id AS id, {toks} AS tk
                      FROM documents),
        sh10 AS (
          SELECT id, CASE
            WHEN len(tk) >= 10 THEN list_distinct(list_transform(
                   range(1, len(tk) - 8), i -> {_g10}))
            WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
            ELSE []::VARCHAR[] END AS shs
          FROM tk10),
        p10 AS (SELECT id, unnest(shs) AS s FROM sh10),
        wdf AS (SELECT s, count(DISTINCT id) AS w_docs
                FROM p10 GROUP BY 1)
        SELECT id, count(*) AS n_windows,
               sum(CASE WHEN w_docs >= 2 THEN 1 ELSE 0 END)::BIGINT
                 AS n_dup_windows,
               round(sum(CASE WHEN w_docs >= 2 THEN 1 ELSE 0 END)
                     / count(*)::DOUBLE, 6) AS dup_frac
        FROM p10 JOIN wdf USING (s) GROUP BY 1
    """

    # decontamination: word-4-gram overlap between the doc_id%41 bench
    # split and the rest, replayed with the same tokenizer/shingle spec
    sql["decontam_overlap"] = f"""
        WITH toksd AS (
          SELECT doc_id AS id, {_toks_sql('text')} AS tk
          FROM documents WHERE text IS NOT NULL),
        sh4 AS (
          SELECT id, CASE
            WHEN len(tk) >= 4 THEN list_distinct(list_transform(
                   range(1, len(tk) - 2),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                        || ' ' || tk[i+3]))
            WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
            ELSE []::VARCHAR[] END AS shs
          FROM toksd),
        post4 AS (SELECT id, unnest(shs) AS s FROM sh4),
        tp AS (SELECT * FROM post4 WHERE id % 41 <> 0),
        bp AS (SELECT * FROM post4 WHERE id % 41 = 0),
        hits AS (
          SELECT tp.id,
                 count(DISTINCT tp.s) AS n_hit_shingles,
                 count(DISTINCT bp.id) AS n_bench_docs
          FROM tp JOIN bp ON tp.s = bp.s GROUP BY 1),
        sizes4 AS (
          SELECT id, count(*) AS train_shingles FROM tp
          WHERE id IN (SELECT id FROM hits) GROUP BY 1)
        SELECT hits.id AS train_id, n_hit_shingles, n_bench_docs,
               train_shingles,
               round(n_hit_shingles / train_shingles::DOUBLE, 6)
                 AS contamination_frac
        FROM hits JOIN sizes4 ON hits.id = sizes4.id
    """

    sql["dedup_jaccard_prefix"] = sql["dedup_ngram_jaccard"]

    # MinHash+LSH, fully replayed in DuckDB: the portable lane family
    # (universal hash mod 2^31-1 over the 30-bit halves of the md5-
    # derived shingle hash — overflow-free BIGINT arithmetic in both
    # engines) reproduces the exact candidate set, not just the
    # verified output (operators/dedup.py::_lane_exprs).
    from fashion_knowledge_graph_spark.operators.dedup import (
        minhash_lane_params,
    )
    lane_rows = ", ".join(f"({j}, {a}, {b}, {c})" for j, (a, b, c)
                          in enumerate(minhash_lane_params(128)))
    minhash_ctes = f"""{shingle_cte},
        posth AS (
          SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS shn
          FROM post),
        params(j, a, b, c) AS (VALUES {lane_rows}),
        lanes AS (
          SELECT id, p.j,
                 min((p.a * (shn & 1073741823) + p.b * (shn >> 30) + p.c)
                     % 2147483647) AS hv
          FROM posth CROSS JOIN params p GROUP BY id, p.j),
        bands AS (
          SELECT id, (j // 4)::INT AS band,
                 md5(string_agg(hv::VARCHAR, '|' ORDER BY j)) AS bkey
          FROM lanes GROUP BY id, j // 4),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)"""
    sql["dedup_minhash_lsh"] = f"""
        WITH {minhash_ctes}
        SELECT i.id_a, i.id_b,
               round(inter / (sa.sz + sb.sz - inter)::DOUBLE, 6) AS jaccard
        FROM inter i
        JOIN cand USING (id_a, id_b)
        JOIN sizes sa ON sa.id = i.id_a
        JOIN sizes sb ON sb.id = i.id_b
        WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.35
    """

    # the incremental (seed + fold-in) run must equal from-scratch —
    # same replay as dedup_minhash_lsh
    sql["dedup_minhash_incremental"] = sql["dedup_minhash_lsh"]

    sql["dedup_minhash_estimate"] = f"""
        WITH {minhash_ctes},
        ver AS (SELECT i.id_a, i.id_b,
                       inter / (sa.sz + sb.sz - inter)::DOUBLE AS jac
                FROM inter i
                JOIN cand USING (id_a, id_b)
                JOIN sizes sa ON sa.id = i.id_a
                JOIN sizes sb ON sb.id = i.id_b
                WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE
                      >= 0.35),
        est AS (SELECT v.id_a, v.id_b,
                       sum((la.hv = lb.hv)::INT)::DOUBLE / 128 AS mh
                FROM ver v
                JOIN lanes la ON la.id = v.id_a
                JOIN lanes lb ON lb.id = v.id_b AND la.j = lb.j
                GROUP BY 1, 2)
        SELECT e.id_a, e.id_b, round(v.jac, 6) AS jaccard,
               round(e.mh, 6) AS mh_est,
               round(round(e.mh, 6) - round(v.jac, 6), 6) AS err
        FROM est e JOIN ver v USING (id_a, id_b)
    """

    # LSH pairs → transitive closure → min-id survivor per duplicate
    # group (operators/dedup.py::dedup_keep + components.py CC). The
    # recursive reach CTE mirrors the kg_canonical oracle's closure.
    sql["dedup_clusters"] = f"""
        WITH RECURSIVE {minhash_ctes},
        dup AS (
          SELECT i.id_a, i.id_b
          FROM inter i
          JOIN cand USING (id_a, id_b)
          JOIN sizes sa ON sa.id = i.id_a
          JOIN sizes sb ON sb.id = i.id_b
          WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.35),
        dsym AS (
          SELECT id_a AS src, id_b AS dst FROM dup
          UNION
          SELECT id_b AS src, id_a AS dst FROM dup),
        reach(id, r) AS (
          SELECT doc_id AS id, doc_id AS r FROM documents
          UNION
          SELECT s.dst AS id, reach.r
          FROM reach JOIN dsym s ON s.src = reach.id)
        SELECT id AS doc_id, min(r) AS keep_id FROM reach GROUP BY id
    """

    # cluster-size datasheet: wraps the full dedup_clusters replay
    sql["dedup_cluster_stats"] = (
        "WITH base AS (" + sql["dedup_clusters"] + "),\n"
        "sizes AS (SELECT keep_id, count(*) AS cluster_size\n"
        "          FROM base GROUP BY 1)\n"
        "SELECT cluster_size,\n"
        "       CAST(count(*) AS BIGINT) AS n_clusters,\n"
        "       CAST(sum(cluster_size) AS BIGINT) AS n_docs\n"
        "FROM sizes GROUP BY 1")

    # SimHash, bit-exact replay: token hash = first 16 hex chars of
    # md5 read MSB-first; per-bit ±1 sums over the token multiset;
    # 4×16-bit banded candidates; hamming over the bit strings.
    sql["dedup_simhash"] = f"""
        WITH tok AS (
          SELECT doc_id AS id, unnest({toks}) AS t FROM documents),
        th AS (SELECT id, substr(md5(t), 1, 16) AS hx FROM tok),
        bits AS (
          SELECT id, j,
                 sum(CASE WHEN (('0x' || substr(hx, (j // 4)::INT + 1, 1))::INT
                                & (1 << (3 - (j % 4)::INT))) <> 0
                          THEN 1 ELSE -1 END) AS cnt
          FROM th CROSS JOIN range(64) r(j) GROUP BY id, j),
        bs AS (
          SELECT id, string_agg(CASE WHEN cnt > 0 THEN '1' ELSE '0' END,
                                '' ORDER BY j) AS bstr
          FROM bits GROUP BY id),
        sbands AS (
          SELECT id, b, substr(bstr, (b * 16)::INT + 1, 16) AS bkey
          FROM bs CROSS JOIN range(4) q(b)),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM sbands a JOIN sbands b
            ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id)
        SELECT * FROM (
          SELECT c.id_a, c.id_b,
                 len(list_filter(range(1, 65),
                     i -> substr(x.bstr, i::INT, 1) <> substr(y.bstr, i::INT, 1)))
                   AS hamming
          FROM cand c
          JOIN bs x ON x.id = c.id_a
          JOIN bs y ON y.id = c.id_b) t
        WHERE hamming <= 8
    """

    sql["cluster_dbscan"] = """
        WITH RECURSIVE ep AS (
          SELECT a.vec_id AS x, b.vec_id AS y
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < b.vec_id
           AND list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]) >= 0.3),
        sym AS (SELECT x, y FROM ep
                UNION SELECT y AS x, x AS y FROM ep),
        deg AS (SELECT x, count(*) AS n_nb FROM sym GROUP BY 1),
        core AS (SELECT x AS node FROM deg WHERE n_nb >= 3),
        ce AS (SELECT s.x, s.y FROM sym s
               WHERE s.x IN (SELECT node FROM core)
                 AND s.y IN (SELECT node FROM core)),
        reach(id, r) AS (
          SELECT node, node FROM core
          UNION
          SELECT e.y, reach.r FROM reach JOIN ce e ON e.x = reach.id),
        cc AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        border AS (
          SELECT s.x AS id, min(s.y) AS nb_core
          FROM sym s
          WHERE s.y IN (SELECT node FROM core)
            AND s.x NOT IN (SELECT node FROM core)
          GROUP BY 1)
        SELECT id AS vec_id, cluster, 'core' AS role FROM cc
        UNION ALL
        SELECT b.id AS vec_id, c.cluster, 'border' AS role
        FROM border b JOIN cc c ON c.id = b.nb_core
    """

    sql["embedding_near_dup"] = """
        -- DOUBLE[] cast: DuckDB's float32 cosine diverges from Spark's
        -- double accumulation in the 6th decimal otherwise
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6)
                 AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) >= 0.3
    """

    # multimodal: replay synthesize_media + the pooled-feature kernel
    # in closed form (content = md5 hex tiled; feature = col means then
    # row means of the (h,w) tiling, first 64, L2-normalized)
    mm_media_cte = """
        refs AS (SELECT printf('img://doc%08d', doc_id) AS mid
                 FROM documents WHERE doc_id < 200),
        m AS (SELECT mid,
                (('0x' || substr(md5(mid || ':w'), 1, 15))::BIGINT
                  % 481 + 32)::INT AS w,
                (('0x' || substr(md5(mid || ':h'), 1, 15))::BIGINT
                  % 481 + 32)::INT AS h,
                repeat(md5(mid), 8) AS hx
              FROM refs)
    """
    sql["mm_feature_extract"] = f"""
        WITH {mm_media_cte},
        b AS (SELECT mid, w, h,
                list_transform(range(128),
                  i -> ('0x' || substr(hx, (2*i)::INT + 1, 2))::INT) AS lb
              FROM m),
        pooled AS (SELECT mid,
            list_concat(
              list_transform(range(least(w, 64)), c ->
                list_sum(list_transform(range(h),
                  r -> lb[((r*w + c) % 128)::INT + 1]))::DOUBLE / h),
              CASE WHEN w < 64 THEN
                list_transform(range(64 - w), r ->
                  list_sum(list_transform(range(w),
                    c -> lb[((r*w + c) % 128)::INT + 1]))::DOUBLE / w)
              ELSE []::DOUBLE[] END) AS v
            FROM b),
        normed AS (SELECT mid, v,
                     sqrt(list_sum(list_transform(v, x -> x*x))) AS n
                   FROM pooled)
        SELECT mid AS media_id, j::INT AS idx,
               round(v[(j + 1)::INT] / n, 6) AS value
        FROM normed CROSS JOIN range(64) t(j)
    """

    sql["mm_media_meta"] = f"""
        WITH {mm_media_cte}
        SELECT mid AS media_id, w AS width, h AS height,
               128::BIGINT AS n_bytes,
               to_base64(unhex(md5(mid))) AS thumb_b64
        FROM m
    """

    sql["mm_resize_plan"] = f"""
        WITH {mm_media_cte},
        s AS (SELECT mid,
                CASE WHEN substr(md5(mid || ':m'), 1, 1) < '4'
                     THEN 'video/mp4' ELSE 'image/png' END AS mime,
                w, h,
                least(1.0, 256.0 / greatest(w, h)) AS sc
              FROM m)
        SELECT mid AS media_id, mime,
               floor(w * sc + 0.5)::INT AS target_width,
               floor(h * sc + 0.5)::INT AS target_height,
               sc < 1.0 AS needs_resize
        FROM s
    """

    sql["mm_frame_plan"] = f"""
        WITH {mm_media_cte},
        d AS (SELECT mid,
                CASE WHEN substr(md5(mid || ':m'), 1, 1) < '4'
                     THEN (('0x' || substr(md5(mid || ':d'), 1, 15))::BIGINT
                           % 9000 + 500)
                     ELSE 0 END AS dur
              FROM m)
        SELECT mid AS media_id,
               unnest(CASE WHEN dur > 0 THEN range(0, dur, 1000)
                           ELSE [0] END)::INT AS frame_ms
        FROM d
    """

    sql["mm_audio_chunk_plan"] = f"""
        WITH {mm_media_cte},
        d AS (SELECT mid,
                CASE WHEN substr(md5(mid || ':m'), 1, 1) < '4'
                     THEN (('0x' || substr(md5(mid || ':d'), 1, 15))::BIGINT
                           % 9000 + 500)
                     ELSE 0 END AS dur
              FROM m),
        st AS (SELECT mid, dur,
                      unnest(range(0, dur, 1500))::BIGINT AS start_ms
               FROM d WHERE dur > 0)
        SELECT mid AS media_id,
               CAST(start_ms // 1500 AS INT) AS chunk_idx,
               CAST(start_ms AS INT) AS start_ms,
               CAST(least(start_ms + 2000, dur) AS INT) AS end_ms
        FROM st
    """

    topk_cte = """
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS s
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < {qmax}),
        ranked AS (
          SELECT query_id, corpus_id, s, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY s DESC, corpus_id ASC) AS rank
          FROM scored)
    """
    sql["emb_anisotropy"] = """
        WITH p AS (
          SELECT list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]) AS c
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE a.vec_id < 100 AND b.vec_id < 100)
        SELECT count(*) AS n_pairs,
               round(avg(c), 6) AS mean_cos,
               round(stddev_pop(c), 6) AS std_cos,
               round(avg((c > 0.8)::INT::DOUBLE), 6)
                 AS frac_above_08
        FROM p
    """

    sql["ann_cosine_topk"] = f"""
        WITH {topk_cte.format(qmax=20)}
        SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 5
    """
    sql["ann_ivf_topk"] = sql["ann_cosine_topk"]
    sql["ann_hard_negatives"] = f"""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS s
          FROM embeddings q JOIN embeddings c
            ON q.vec_id <> c.vec_id AND q.label <> c.label
          WHERE q.vec_id < 20),
        ranked AS (
          SELECT query_id, corpus_id, s, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY s DESC, corpus_id ASC) AS rank
          FROM scored)
        SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 5
    """
    # exhaustive sign-LSH (nbits=0 → single bucket) ⇒ exact top-k
    sql["ann_lsh_topk"] = sql["ann_cosine_topk"]

    # int8 fidelity: float top-1 truth left-joined into the int8
    # top-10 ranking; same quantization + integer-dot chain as
    # ann_int8_topk, same float chain as ann_cosine_topk
    sql["ann_int8_ranking_eval"] = f"""
        WITH {topk_cte.format(qmax=20)},
        truth AS (SELECT query_id, corpus_id FROM ranked
                  WHERE rank = 1),
        ie AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings),
        isc AS (SELECT vec_id, v,
                       coalesce(list_max(list_transform(
                           v, x -> abs(x))), 0.0) AS scale
                FROM ie),
        iq AS (SELECT vec_id,
                      CASE WHEN scale = 0
                           THEN list_transform(v,
                                  x -> CAST(0 AS BIGINT))
                           ELSE list_transform(v, x ->
                             CAST(floor(x * 127.0 / scale + 0.5)
                                  AS BIGINT)) END AS qv
               FROM isc),
        iqq AS (SELECT vec_id, qv,
                       coalesce(list_sum(list_transform(
                           qv, x -> x * x)), 0)::BIGINT AS nrm
                FROM iq),
        ipairs AS (
          SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
                 coalesce(list_sum(list_transform(
                     range(1, len(a.qv) + 1),
                     i -> a.qv[i] * b.qv[i])), 0)::BIGINT AS dot,
                 a.nrm AS qn, b.nrm AS cn
          FROM iqq a JOIN iqq b ON a.vec_id <> b.vec_id
          WHERE a.vec_id < 20),
        iscored AS (
          SELECT query_id, corpus_id,
                 dot / greatest(sqrt(qn) * sqrt(cn), 1e-300) AS sc
          FROM ipairs),
        iranked AS (
          SELECT query_id, corpus_id, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY sc DESC, corpus_id ASC) AS rank
          FROM iscored),
        j AS (SELECT t.query_id, ir.rank
              FROM truth t
              LEFT JOIN (SELECT * FROM iranked WHERE rank <= 10) ir
                ON ir.query_id = t.query_id
               AND ir.corpus_id = t.corpus_id)
        SELECT count(*)::BIGINT AS n_truth,
               round(avg(CASE WHEN rank IS NOT NULL
                              THEN 1.0 / rank ELSE 0.0 END), 6)
                 AS mrr,
               round(avg(CASE WHEN rank <= 1 THEN 1.0
                              ELSE 0.0 END), 6) AS hits_1,
               round(avg(CASE WHEN rank <= 5 THEN 1.0
                              ELSE 0.0 END), 6) AS hits_5,
               round(avg(CASE WHEN rank <= 10 THEN 1.0
                              ELSE 0.0 END), 6) AS hits_10
        FROM j
    """

    sql["w5_top1_then_threshold"] = f"""
        WITH {topk_cte.format(qmax=50)}
        SELECT query_id, corpus_id
        FROM ranked WHERE rank = 1 AND s >= 0.25
    """

    sql["events_survival_km"] = """
        WITH d AS (SELECT user_id,
                          epoch_us(ts) // 86400000000 AS day
                   FROM events),
        pu AS (SELECT user_id, min(day) AS d0, max(day) AS d1
               FROM d GROUP BY 1),
        g AS (SELECT max(d1) AS gmax FROM pu),
        dur AS (SELECT (d1 - d0) AS t,
                       (d1 < gmax) AS observed
                FROM pu CROSS JOIN g),
        byt AS (SELECT t, count(*) AS n_at,
                       sum(CASE WHEN observed THEN 1 ELSE 0 END)
                         AS d_events
                FROM dur GROUP BY 1),
        r AS (SELECT *, sum(n_at) OVER (ORDER BY t DESC
                ROWS UNBOUNDED PRECEDING) AS n_risk FROM byt),
        s AS (SELECT *,
                max(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END)
                  OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING)
                  AS dead,
                exp(sum(CASE WHEN d_events > 0
                             AND d_events < n_risk
                             THEN ln((n_risk - d_events) / n_risk)
                             ELSE 0 END)
                    OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING))
                  AS surv
              FROM r)
        SELECT CAST(t AS BIGINT) AS t,
               CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d_events AS BIGINT) AS d_events,
               round(CASE WHEN dead = 1 THEN 0.0 ELSE surv END, 6)
                 AS survival
        FROM s WHERE d_events > 0
    """

    sql["dq_table_profile"] = """
        WITH g AS (
          SELECT count(*) AS n,
            sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nu1,
            count(DISTINCT o_orderkey) AS nd1,
            CAST(min(o_orderkey) AS VARCHAR) AS mn1,
            CAST(max(o_orderkey) AS VARCHAR) AS mx1,
            sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nu2,
            count(DISTINCT o_custkey) AS nd2,
            CAST(min(o_custkey) AS VARCHAR) AS mn2,
            CAST(max(o_custkey) AS VARCHAR) AS mx2,
            sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nu3,
            count(DISTINCT o_orderstatus) AS nd3,
            min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3,
            sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nu4,
            count(DISTINCT o_orderpriority) AS nd4,
            min(o_orderpriority) AS mn4, max(o_orderpriority) AS mx4,
            sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nu5,
            count(DISTINCT o_totalprice) AS nd5,
            CAST(min(o_totalprice) AS VARCHAR) AS mn5,
            CAST(max(o_totalprice) AS VARCHAR) AS mx5
          FROM orders),
        rows_out(column_name, n_null, n_distinct, min_val, max_val) AS (
          SELECT 'o_orderkey', nu1, nd1, mn1, mx1 FROM g
          UNION ALL SELECT 'o_custkey', nu2, nd2, mn2, mx2 FROM g
          UNION ALL SELECT 'o_orderstatus', nu3, nd3, mn3, mx3 FROM g
          UNION ALL SELECT 'o_orderpriority', nu4, nd4, mn4, mx4 FROM g
          UNION ALL SELECT 'o_totalprice', nu5, nd5, mn5, mx5 FROM g)
        SELECT column_name, (SELECT n FROM g) AS n_rows,
               CAST(n_null AS BIGINT) AS n_null,
               round(n_null / CAST((SELECT n FROM g) AS DOUBLE), 6)
                 AS null_frac,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               min_val, max_val
        FROM rows_out
    """

    sql["j_rendezvous_shards"] = """
        WITH shards(s) AS (
          VALUES ('us-east'), ('us-west'), ('eu'), ('ap')),
        h AS (SELECT doc_id, s,
                     ('0x' || substr(md5(s || ':'
                                         || CAST(doc_id AS VARCHAR)),
                                     1, 15))::BIGINT AS hv
              FROM documents, shards),
        a AS (SELECT doc_id,
                     (max(struct_pack(h := hv, s := s))).s AS shard
              FROM h GROUP BY 1)
        SELECT shard, count(*) AS n_docs FROM a GROUP BY 1
    """

    sql["ml_feature_hash"] = """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents
          WHERE text IS NOT NULL AND doc_id < 1000),
        t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5('b:' || tok), 1, 15))::BIGINT
                   % 64 AS bucket,
                 CASE WHEN ('0x' || substr(md5('s:' || tok), 1, 15))
                             ::BIGINT % 2 = 1
                      THEN 1 ELSE -1 END AS s
          FROM t2)
        SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS value
        FROM hashed GROUP BY 1, 2 HAVING sum(s) <> 0
    """

    sql["ml_target_encoding"] = """
        WITH base AS (
          SELECT c_mktsegment AS cat,
                 ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                                 1, 15))::BIGINT % 5 AS fold,
                 CAST(o_totalprice AS DECIMAL(18,6)) AS t
          FROM customer JOIN orders ON c_custkey = o_custkey
          WHERE o_totalprice IS NOT NULL),
        pf AS (SELECT cat, fold, count(*) AS n_cf, sum(t) AS s_cf
               FROM base GROUP BY 1, 2),
        g AS (SELECT *,
                sum(n_cf) OVER (PARTITION BY cat) AS n_c,
                sum(s_cf) OVER (PARTITION BY cat) AS s_c,
                CAST(sum(s_cf) OVER () / sum(n_cf) OVER () AS DOUBLE)
                  AS mu
              FROM pf)
        SELECT cat AS c_mktsegment, CAST(fold AS INT) AS fold,
               CAST(n_cf AS BIGINT) AS n_fold,
               round((CAST(s_c - s_cf AS DOUBLE) + 10.0 * mu)
                     / (n_c - n_cf + 10.0), 6) AS encoding
        FROM g
    """

    sql["sketch_join_size"] = """
        WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS k
                   FROM lineitem WHERE l_partkey IS NOT NULL),
        depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
        cells AS (
          SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                        || k), 1, 15))::BIGINT
                      % 8192 AS bucket
          FROM k, depths),
        bc AS (SELECT d, bucket, count(*) AS n
               FROM cells GROUP BY 1, 2),
        ip AS (SELECT d, sum(n * n) AS ip FROM bc GROUP BY 1),
        est AS (SELECT CASE WHEN count(*) < 4 THEN 0
                            ELSE min(ip) END AS est_join_size
                FROM ip),
        f AS (SELECT k, count(*) AS fk FROM k GROUP BY 1),
        ex AS (SELECT sum(fk * fk) AS exact_join_size,
                      sum(fk) AS n FROM f)
        SELECT CAST(n AS BIGINT) AS n_left,
               CAST(n AS BIGINT) AS n_right,
               CAST(exact_join_size AS BIGINT) AS exact_join_size,
               CAST(est_join_size AS BIGINT) AS est_join_size
        FROM ex CROSS JOIN est
    """

    sql["dq_constraint_suite"] = """
        WITH agg AS (
          SELECT
            sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
              AS orderkey_not_null,
            sum(CASE WHEN l_quantity IS NOT NULL
                      AND (l_quantity < 1 OR l_quantity > 50)
                     THEN 1 ELSE 0 END) AS qty_1_50,
            sum(CASE WHEN l_discount IS NOT NULL
                      AND (l_discount < 0.0 OR l_discount > 0.05)
                     THEN 1 ELSE 0 END) AS discount_0_005,
            sum(CASE WHEN l_returnflag IS NOT NULL
                      AND l_returnflag NOT IN ('A', 'N', 'R')
                     THEN 1 ELSE 0 END) AS returnflag_enum,
            sum(CASE WHEN l_linestatus IS NOT NULL
                      AND NOT regexp_matches(l_linestatus, '^[OF]$')
                     THEN 1 ELSE 0 END) AS linestatus_shape,
            count(*) - count(DISTINCT (l_orderkey, l_linenumber))
              AS line_pk_unique
          FROM lineitem),
        fk AS (
          SELECT count(*) AS orphans FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)),
        rows_out("constraint", violations) AS (
          SELECT 'orderkey_not_null', orderkey_not_null FROM agg
          UNION ALL SELECT 'qty_1_50', qty_1_50 FROM agg
          UNION ALL SELECT 'discount_0_005', discount_0_005 FROM agg
          UNION ALL SELECT 'returnflag_enum', returnflag_enum FROM agg
          UNION ALL SELECT 'linestatus_shape', linestatus_shape FROM agg
          UNION ALL SELECT 'line_pk_unique', line_pk_unique FROM agg
          UNION ALL SELECT 'orderkey_fk', orphans FROM fk)
        SELECT "constraint", CAST(violations AS BIGINT) AS violations,
               violations = 0 AS passed
        FROM rows_out
    """

    sql["stat_gini_concentration"] = """
        WITH rev AS (
          SELECT c_mktsegment, c_custkey,
                 sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
          FROM customer JOIN orders ON c_custkey = o_custkey
          GROUP BY 1, 2),
        ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY x ASC, c_custkey ASC) AS i
          FROM rev),
        g AS (SELECT c_mktsegment,
                     count(*) AS n_customers,
                     CAST(sum(x) AS DOUBLE) AS tot,
                     CAST(sum(i * x) AS DOUBLE) AS wtot
              FROM ranked GROUP BY 1)
        SELECT c_mktsegment, n_customers,
               round(tot, 2) AS total_revenue,
               round(2.0 * wtot / (n_customers * tot)
                     - (n_customers + 1) / CAST(n_customers AS DOUBLE),
                     6) AS gini
        FROM g
    """

    sql["stat_ab_ztest"] = """
        WITH per_user AS (
          SELECT user_id % 2 AS variant,
                 max(CASE WHEN event_type = 'purchase'
                          AND value > 200
                          THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY user_id),
        v AS (SELECT variant, count(*) AS n, sum(conv) AS c
              FROM per_user GROUP BY 1),
        g AS (SELECT
                CAST(max(CASE WHEN variant = 0 THEN n END) AS BIGINT)
                  AS n_a,
                CAST(max(CASE WHEN variant = 0 THEN c END) AS BIGINT)
                  AS conv_a,
                CAST(max(CASE WHEN variant = 1 THEN n END) AS BIGINT)
                  AS n_b,
                CAST(max(CASE WHEN variant = 1 THEN c END) AS BIGINT)
                  AS conv_b
              FROM v),
        s AS (SELECT *,
                conv_a / CAST(n_a AS DOUBLE) AS pa,
                conv_b / CAST(n_b AS DOUBLE) AS pb,
                (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) AS pp
              FROM g),
        z AS (SELECT *,
                (pb - pa) / sqrt(pp * (1 - pp)
                                 * (1.0 / n_a + 1.0 / n_b)) AS zs
              FROM s)
        SELECT n_a, conv_a, n_b, conv_b,
               round(pa, 6) AS rate_a,
               round(pb, 6) AS rate_b,
               round(zs, 6) AS z_score,
               abs(zs) > 1.959964 AS significant_95
        FROM z
    """

    sql["rank_eval_ndcg"] = """
        WITH scored AS (
          SELECT q.vec_id AS query_id, q.label AS q_label,
                 c.vec_id AS corpus_id, c.label AS c_label,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS s
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20),
        ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY s DESC, corpus_id ASC) AS rank
          FROM scored),
        nlab AS (SELECT label AS q_label, count(*) - 1 AS n_relevant
                 FROM embeddings GROUP BY 1),
        dcg AS (
          SELECT query_id, q_label,
                 sum(CASE WHEN q_label = c_label THEN 1 ELSE 0 END
                     / log2(rank + 1)) AS dcg
          FROM ranked WHERE rank <= 10
          GROUP BY 1, 2),
        h AS (SELECT CAST(i AS BIGINT) AS i,
                     sum(1.0 / log2(i + 1)) OVER (
                       ORDER BY i ROWS UNBOUNDED PRECEDING) AS hsum
              FROM range(1, 11) AS t(i)),
        idcg AS (
          SELECT d.query_id, n.n_relevant, d.dcg, h.hsum AS idcg
          FROM dcg d JOIN nlab n USING (q_label)
          JOIN h ON h.i = greatest(1, least(10, n.n_relevant)))
        SELECT query_id, CAST(n_relevant AS BIGINT) AS n_relevant,
               round(dcg, 6) AS dcg10,
               round(idcg, 6) AS idcg10,
               round(dcg / idcg, 6) AS ndcg10
        FROM idcg
    """

    sql["stat_contingency"] = """
        WITH joint AS (
          SELECT c_mktsegment, o_orderpriority, count(*) AS nij
          FROM customer JOIN orders ON c_custkey = o_custkey
          GROUP BY 1, 2),
        g AS (SELECT *,
                sum(nij) OVER (PARTITION BY c_mktsegment) AS r,
                sum(nij) OVER (PARTITION BY o_orderpriority) AS c,
                sum(nij) OVER () AS n
              FROM joint)
        SELECT max(n)::BIGINT AS n,
               round(sum(pow(nij - r * c / n, 2)
                         / (r * c / n)), 4) AS chi2,
               ((count(DISTINCT c_mktsegment) - 1)
                * (count(DISTINCT o_orderpriority) - 1))::BIGINT
                 AS dof,
               round(sqrt(sum(pow(nij - r * c / n, 2)
                              / (r * c / n))
                          / (max(n)
                             * least(count(DISTINCT c_mktsegment)
                                       - 1,
                                     count(DISTINCT o_orderpriority)
                                       - 1))), 6) AS cramers_v,
               round(sum((nij / n) * log2(nij * n
                          / (r * c))), 6) AS mi_bits
        FROM g
    """

    # greedy max-coverage: k=5 unrolled stages (pick → covered union
    # → uncovered anti-filter), ties on doc_id asc — the exact trace
    # the operator's distributed greedy produces
    _cov = [f"""t AS (SELECT DISTINCT doc_id, tok
              FROM (SELECT doc_id,
                      unnest(list_transform(range(1, len(tl)),
                        i -> tl[i] || ' ' || tl[i+1])) AS tok
                    FROM (SELECT doc_id, {toks} AS tl
                          FROM documents
                          WHERE text IS NOT NULL) w) z)"""]
    for i in range(1, 6):
        src = "t" if i == 1 else f"u{i}"
        if i > 1:
            _cov.append(
                f"""u{i} AS (SELECT * FROM t WHERE tok NOT IN
                       (SELECT tok FROM c{i-1}))""")
        _cov.append(
            f"""p{i} AS (SELECT doc_id, count(*) AS gain FROM {src}
                   GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1)""")
        prev = f"SELECT tok FROM c{i-1} UNION " if i > 1 else ""
        _cov.append(
            f"""c{i} AS ({prev}SELECT DISTINCT {src}.tok
                   FROM {src} JOIN p{i} USING (doc_id))""")
    _cov_sel = "\n UNION ALL ".join(
        f"""SELECT {i} AS rank, doc_id, gain AS new_tokens,
              (SELECT count(*) FROM c{i}) AS total_covered
            FROM p{i}""" for i in range(1, 6))
    sql["select_max_coverage"] = (
        "WITH " + ",\n".join(_cov) + "\n" + _cov_sel)

    sql["events_mad_outliers"] = """
        WITH med AS (SELECT event_type,
                            quantile_cont(value, 0.5) AS med
                     FROM events GROUP BY 1),
        dev AS (SELECT e.event_id, e.event_type, e.value,
                       abs(e.value - m.med) AS adev
                FROM events e JOIN med m USING (event_type)),
        mad AS (SELECT event_type,
                       quantile_cont(adev, 0.5) AS mad
                FROM dev GROUP BY 1)
        SELECT d.event_id, d.event_type,
               round(d.value, 2) AS value,
               round(d.adev / (1.4826 * m.mad), 4) AS robust_z
        FROM dev d JOIN mad m USING (event_type)
        WHERE d.adev > 3 * 1.4826 * m.mad
    """

    sql["dq_fd_violations"] = """
        SELECT p_name, count(DISTINCT p_type) AS n_types,
               count(*) AS n_rows
        FROM part GROUP BY 1 HAVING count(DISTINCT p_type) > 1
    """

    sql["dq_benford_digits"] = """
        SELECT digit, n,
               round(n / tot, 6) AS share,
               round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford,
               round(round(n / tot, 6)
                     - round(ln(1.0 + 1.0 / digit) / ln(10.0), 6), 6)
                 AS delta
        FROM (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1)::INT AS digit,
                     count(*) AS n,
                     (SELECT count(*) FROM orders)::DOUBLE AS tot
              FROM orders GROUP BY 1) t
    """

    sql["w_forward_fill"] = """
        WITH v AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN ('0x' || substr(md5('ff:' ||
                        CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                        % 5 <> 0
                      THEN value END AS v
          FROM events)
        SELECT event_id, user_id, round(v, 2) AS v,
               round(last_value(v IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS v_filled
        FROM v
    """

    sql["graph_assortativity"] = """
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
    """

    sql["scd2_type_intervals"] = """
        WITH o AS (
          SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
          FROM events),
        g AS (SELECT *,
                 sum(CASE WHEN prev IS NULL
                          OR event_type <> prev THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS grp
              FROM o),
        iv AS (SELECT user_id, grp, min(event_type) AS event_type,
                      min(epoch_us(ts)) AS valid_from_us
               FROM g GROUP BY 1, 2)
        SELECT user_id, event_type, valid_from_us, valid_to_us,
               (valid_to_us IS NULL) AS is_current
        FROM (SELECT user_id, event_type, valid_from_us,
                     lead(valid_from_us) OVER (PARTITION BY user_id
                       ORDER BY valid_from_us) AS valid_to_us
              FROM iv) z
    """

    sql["er_clusters"] = """
        WITH RECURSIVE men AS (
          SELECT p_partkey AS mention_id,
                 p_brand || ' ' || p_name AS fullname,
                 ('0x' || substr(md5('er:' ||
                    CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM part),
        men2 AS (
          SELECT mention_id,
                 CASE WHEN h % 10 < 4 THEN
                   substr(fullname, 1,
                          ((h % (length(fullname)-1)) + 2) - 1) ||
                   substr(fullname,
                          ((h % (length(fullname)-1)) + 2) + 1)
                 ELSE fullname END AS mention_text
          FROM men),
        mg AS (SELECT mention_id, mention_text,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(mention_text)-2,1)+1),
                        i -> substr(mention_text, i, 3)))) AS gram
               FROM men2),
        stops AS (SELECT gram FROM mg GROUP BY 1
                  HAVING count(*) > 100),
        mg2 AS (SELECT * FROM mg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        e AS (SELECT DISTINCT x.mention_id AS src,
                              y.mention_id AS dst
              FROM mg2 x JOIN mg2 y USING (gram)
              WHERE x.mention_id < y.mention_id
                AND levenshtein(x.mention_text, y.mention_text) <= 1),
        und AS (SELECT src AS a, dst AS b FROM e
                UNION ALL SELECT dst, src FROM e),
        reach AS (
          SELECT mention_id AS id, mention_id AS r FROM men2
          UNION
          SELECT reach.id, und.b FROM reach
          JOIN und ON reach.r = und.a),
        cc AS (SELECT id, min(r) AS cluster_id FROM reach
               GROUP BY 1),
        sizes AS (SELECT cluster_id, count(*) AS n_members
                  FROM cc GROUP BY 1)
        SELECT id AS mention_id, cluster_id, n_members
        FROM cc JOIN sizes USING (cluster_id)
    """

    sql["graph_degree_stats"] = """
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
    """

    sql["ml_ols_regression"] = """
        WITH s AS (
          SELECT count(*)::DOUBLE AS n,
                 sum(l_quantity::DECIMAL(12,2))::DOUBLE AS sx1,
                 sum(l_discount::DECIMAL(12,2))::DOUBLE AS sx2,
                 sum(l_extendedprice::DECIMAL(12,2))::DOUBLE AS sy,
                 sum(l_quantity::DECIMAL(12,2)
                     * l_quantity::DECIMAL(12,2))::DOUBLE AS sx11,
                 sum(l_quantity::DECIMAL(12,2)
                     * l_discount::DECIMAL(12,2))::DOUBLE AS sx12,
                 sum(l_discount::DECIMAL(12,2)
                     * l_discount::DECIMAL(12,2))::DOUBLE AS sx22,
                 sum(l_quantity::DECIMAL(12,2)
                     * l_extendedprice::DECIMAL(12,2))::DOUBLE
                   AS sx1y,
                 sum(l_discount::DECIMAL(12,2)
                     * l_extendedprice::DECIMAL(12,2))::DOUBLE
                   AS sx2y,
                 sum(l_extendedprice::DECIMAL(12,2)
                     * l_extendedprice::DECIMAL(12,2))::DOUBLE AS syy
          FROM lineitem),
        d AS (
          SELECT *,
            (n * (sx11 * sx22 - sx12 * sx12)
             - sx1 * (sx1 * sx22 - sx12 * sx2)
             + sx2 * (sx1 * sx12 - sx11 * sx2)) AS det,
            (sy * (sx11 * sx22 - sx12 * sx12)
             - sx1 * (sx1y * sx22 - sx12 * sx2y)
             + sx2 * (sx1y * sx12 - sx11 * sx2y)) AS det0,
            (n * (sx1y * sx22 - sx12 * sx2y)
             - sy * (sx1 * sx22 - sx12 * sx2)
             + sx2 * (sx1 * sx2y - sx1y * sx2)) AS det1,
            (n * (sx11 * sx2y - sx1y * sx12)
             - sx1 * (sx1 * sx2y - sx1y * sx2)
             + sy * (sx1 * sx12 - sx11 * sx2)) AS det2
          FROM s)
        SELECT n::BIGINT AS n,
               round(det0 / det, 4) AS intercept,
               round(det1 / det, 4) AS beta1,
               round(det2 / det, 4) AS beta2,
               round(1 - (syy - (det0 / det) * sy
                              - (det1 / det) * sx1y
                              - (det2 / det) * sx2y)
                       / (syy - sy * sy / n), 6) AS r2
        FROM d
    """

    sql["sketch_bloom_filter"] = """
        WITH mem AS (SELECT DISTINCT o_custkey AS k FROM orders
                     WHERE o_totalprice > 480000),
        lanes AS (SELECT unnest([1, 2, 3]) AS i),
        bits AS (SELECT DISTINCT
                   ('0x' || substr(md5('bloom' || i || ':' ||
                      CAST(k AS VARCHAR)), 1, 15))::BIGINT % 4096
                     AS pos
                 FROM mem CROSS JOIN lanes),
        pp AS (SELECT c_custkey,
                   ('0x' || substr(md5('bloom' || i || ':' ||
                      CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
                     % 4096 AS pos
               FROM customer CROSS JOIN lanes),
        hit AS (SELECT c_custkey,
                       sum(CASE WHEN pos IN (SELECT pos FROM bits)
                           THEN 1 ELSE 0 END) = 3 AS might_contain
                FROM pp GROUP BY 1)
        SELECT h.c_custkey, h.might_contain,
               (m.k IS NOT NULL) AS is_member
        FROM hit h LEFT JOIN mem m ON h.c_custkey = m.k
    """

    sql["er_snm_link"] = """
        WITH men AS (
          SELECT p_partkey AS mention_id,
                 p_brand || ' ' || p_name AS fullname,
                 ('0x' || substr(md5('er:' ||
                    CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM part),
        men2 AS (
          SELECT mention_id,
                 CASE WHEN h % 10 < 4 THEN
                   substr(fullname, 1,
                          ((h % (length(fullname)-1)) + 2) - 1) ||
                   substr(fullname,
                          ((h % (length(fullname)-1)) + 2) + 1)
                 ELSE fullname END AS mention_text
          FROM men),
        ranked AS (
          SELECT mention_id AS id, mention_text AS key,
                 row_number() OVER (ORDER BY mention_text,
                                    mention_id) AS rn
          FROM men2 WHERE mention_text IS NOT NULL),
        offs AS (SELECT unnest([1, 2, 3, 4]) AS d),
        a AS (SELECT id AS id_a, key AS key_a, rn + d AS rn_b
              FROM ranked, offs),
        p AS (SELECT a.id_a, b.id AS id_b, a.key_a, b.key AS key_b
              FROM a JOIN ranked b ON b.rn = a.rn_b)
        SELECT id_a, id_b,
               CAST(levenshtein(key_a, key_b) AS INT) AS distance
        FROM p WHERE levenshtein(key_a, key_b) <= 2
    """

    sql["er_blocking_eval"] = """
        WITH cat AS (SELECT DISTINCT p_brand || ' ' || p_name
                       AS cat_name FROM part),
        men AS (
          SELECT p_partkey AS mention_id,
                 p_brand || ' ' || p_name AS fullname,
                 ('0x' || substr(md5('er:' ||
                    CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM part),
        men2 AS (
          SELECT mention_id,
                 CASE WHEN h % 10 < 4 THEN
                   substr(fullname, 1,
                          ((h % (length(fullname)-1)) + 2) - 1) ||
                   substr(fullname,
                          ((h % (length(fullname)-1)) + 2) + 1)
                 ELSE fullname END AS mention_text
          FROM men),
        lg AS (SELECT mention_id,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(mention_text)-2,1)+1),
                        i -> substr(mention_text, i, 3)))) AS gram
               FROM men2),
        rg AS (SELECT cat_name,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(cat_name)-2,1)+1),
                        i -> substr(cat_name, i, 3)))) AS gram
               FROM cat),
        stops AS (SELECT gram FROM rg GROUP BY 1
                  HAVING count(*) > 100),
        lg2 AS (SELECT * FROM lg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        rg2 AS (SELECT * FROM rg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        cand AS (SELECT DISTINCT mention_id, cat_name
                 FROM lg2 JOIN rg2 USING (gram)),
        truth AS (SELECT mention_id, fullname AS cat_name FROM men),
        m AS (SELECT
                (SELECT count(*) FROM men2) AS n_m,
                (SELECT count(*) FROM cat) AS n_c,
                (SELECT count(*) FROM cand) AS n_cand,
                (SELECT count(*) FROM truth t
                 JOIN cand c ON c.mention_id = t.mention_id
                            AND c.cat_name = t.cat_name) AS hits)
        SELECT n_m AS n_mentions, n_c AS n_catalog,
               n_cand AS n_candidates,
               round(1.0 - n_cand / CAST(n_m * n_c AS DOUBLE), 6)
                 AS reduction_ratio,
               round(hits / CAST(n_m AS DOUBLE), 6)
                 AS pairs_completeness
        FROM m
    """

    sql["er_fuzzy_link"] = """
        WITH cat AS (SELECT DISTINCT p_brand || ' ' || p_name
                       AS cat_name FROM part),
        men AS (
          SELECT p_partkey AS mention_id,
                 p_brand || ' ' || p_name AS fullname,
                 ('0x' || substr(md5('er:' ||
                    CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM part),
        men2 AS (
          SELECT mention_id,
                 CASE WHEN h % 10 < 4 THEN
                   substr(fullname, 1,
                          ((h % (length(fullname)-1)) + 2) - 1) ||
                   substr(fullname,
                          ((h % (length(fullname)-1)) + 2) + 1)
                 ELSE fullname END AS mention_text
          FROM men),
        lg AS (SELECT mention_id,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(mention_text)-2,1)+1),
                        i -> substr(mention_text, i, 3)))) AS gram
               FROM men2),
        rg AS (SELECT cat_name,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(cat_name)-2,1)+1),
                        i -> substr(cat_name, i, 3)))) AS gram
               FROM cat),
        stops AS (SELECT gram FROM rg GROUP BY 1
                  HAVING count(*) > 100),
        lg2 AS (SELECT * FROM lg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        rg2 AS (SELECT * FROM rg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        pairs AS (SELECT DISTINCT mention_id, cat_name
                  FROM lg2 JOIN rg2 USING (gram)),
        scored AS (
          SELECT p.mention_id, m.mention_text, p.cat_name,
                 levenshtein(m.mention_text, p.cat_name) AS distance
          FROM pairs p JOIN men2 m USING (mention_id)
          WHERE levenshtein(m.mention_text, p.cat_name) <= 2)
        SELECT mention_id, mention_text, cat_name, distance
        FROM (SELECT *, row_number() OVER (
                PARTITION BY mention_id
                ORDER BY distance, cat_name) AS rn FROM scored) t
        WHERE rn = 1
    """

    sql["events_hopping_agg"] = """
        SELECT strftime(date_trunc('hour', ts)
                          - i * INTERVAL 1 HOUR,
                        '%Y-%m-%d %H:%M:%S') AS win_start,
               event_type, count(*) AS n,
               round(sum(value::DECIMAL(18,6)), 4)::DOUBLE
                 AS total_value
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) o
        GROUP BY 1, 2
    """

    sql["tok_bpe_pair_counts"] = f"""
        WITH wf AS (
          SELECT w, count(*) AS freq
          FROM (SELECT unnest({toks}) AS w
                FROM documents WHERE text IS NOT NULL)
          GROUP BY 1),
        pairs AS (
          SELECT substring(w, CAST(i AS INT), 1) AS a,
                 substring(w, CAST(i AS INT) + 1, 1) AS b, freq
          FROM wf, unnest(generate_series(1, length(w) - 1)) AS t(i))
        SELECT a, b, sum(freq)::BIGINT AS pair_count
        FROM pairs GROUP BY 1, 2
        ORDER BY pair_count DESC, a ASC, b ASC LIMIT 20
    """

    sql["tok_bpe_learn_merges"] = _bpe_unrolled_sql(3)
    sql["tok_bpe_segment_corpus"] = _bpe_segmented_sql(3, 10)

    # IRLS logistic regression, 2 Newton steps unrolled. det3/solve
    # textual expansion keeps the association order IDENTICAL to
    # operators/regression.py::_det3_f, so engines diverge only at ulp
    # level under the 6-digit rounding.
    def _d3(a, b, c, d, e, f_, g, h, i):
        return (f"({a}*({e}*{i} - {f_}*{h}) - {b}*({d}*{i} - {f_}*{g})"
                f" + {c}*({d}*{h} - {e}*{g}))")

    def _newton(src, b0, b1, b2, out):
        det = _d3("sw", "swx1", "swx2", "swx1", "swx11", "swx12",
                  "swx2", "swx12", "swx22")
        d0 = _d3("g0", "swx1", "swx2", "g1", "swx11", "swx12",
                 "g2", "swx12", "swx22")
        d1 = _d3("sw", "g0", "swx2", "swx1", "g1", "swx12",
                 "swx2", "g2", "swx22")
        d2 = _d3("sw", "swx1", "g0", "swx1", "swx11", "g1",
                 "swx2", "swx12", "g2")
        return (f"{out} AS (SELECT {b0} + {d0} / {det} AS b0, "
                f"{b1} + {d1} / {det} AS b1, "
                f"{b2} + {d2} / {det} AS b2 FROM {src})")

    _moms = ("sum(w) AS sw, sum(w*x1) AS swx1, sum(w*x2) AS swx2, "
             "sum(w*x1*x1) AS swx11, sum(w*x1*x2) AS swx12, "
             "sum(w*x2*x2) AS swx22, sum(y - p) AS g0, "
             "sum((y - p)*x1) AS g1, sum((y - p)*x2) AS g2")
    _irls_prefix = f"""
        WITH d AS (
          SELECT (event_type = 'purchase')::INT::DOUBLE AS y,
                 value / 100.0 AS x1,
                 extract(hour FROM ts) / 24.0 AS x2
          FROM events),
        p1 AS (SELECT y, x1, x2,
                      1.0 / (1.0 + exp(-(0.0 + 0.0*x1 + 0.0*x2))) AS p
               FROM d),
        m1 AS (SELECT {_moms}
               FROM (SELECT y, x1, x2, p, p * (1.0 - p) AS w FROM p1)),
        {_newton('m1', '0.0', '0.0', '0.0', 'bb1')},
        p2 AS (SELECT y, x1, x2,
                      1.0 / (1.0 + exp(-(b0 + b1*x1 + b2*x2))) AS p
               FROM d, bb1),
        m2 AS (SELECT {_moms}
               FROM (SELECT y, x1, x2, p, p * (1.0 - p) AS w FROM p2)),
        {_newton('m2', '(SELECT b0 FROM bb1)', '(SELECT b1 FROM bb1)',
                 '(SELECT b2 FROM bb1)', 'bb2')}"""

    sql["ml_logreg_irls"] = _irls_prefix + """
        SELECT 1 AS step, round(b0, 6) AS b0, round(b1, 6) AS b1,
               round(b2, 6) AS b2 FROM bb1
        UNION ALL
        SELECT 2, round(b0, 6), round(b1, 6), round(b2, 6) FROM bb2
    """

    sql["ml_calibration_bins"] = _irls_prefix + """,
        scored AS (SELECT y,
                     1.0 / (1.0 + exp(-(b0 + b1*x1 + b2*x2))) AS p
                   FROM d, bb2)
        SELECT least(floor(p * 10), 9)::INT AS bin,
               count(*) AS n, round(avg(p), 6) AS mean_p,
               round(sum(y) / count(*), 6) AS frac_pos
        FROM scored GROUP BY 1
    """

    sql["ml_psi_drift"] = """
        WITH cut AS (SELECT min(ts::DATE) + 15 AS cut FROM events),
        binned AS (
          SELECT event_type,
                 least(floor(value / 100), 9)::INT AS bin,
                 CASE WHEN ts::DATE < (SELECT cut FROM cut)
                      THEN 1 ELSE 0 END AS is_ref
          FROM events),
        counts AS (SELECT event_type, bin,
                          sum(is_ref)::BIGINT AS r_b,
                          sum(1 - is_ref)::BIGINT AS c_b
                   FROM binned GROUP BY 1, 2),
        grid AS (SELECT event_type, i::INT AS bin
                 FROM (SELECT DISTINCT event_type FROM binned),
                      unnest(generate_series(0, 9)) t(i)),
        full_g AS (SELECT g.event_type, g.bin,
                          coalesce(c.r_b, 0) AS r_b,
                          coalesce(c.c_b, 0) AS c_b
                   FROM grid g LEFT JOIN counts c
                     ON g.event_type = c.event_type
                    AND g.bin = c.bin),
        tot AS (SELECT event_type, sum(r_b)::BIGINT AS r_tot,
                       sum(c_b)::BIGINT AS c_tot
                FROM full_g GROUP BY 1),
        terms AS (
          SELECT f.event_type,
                 ((f.r_b + 1)::DOUBLE / (t.r_tot + 10)
                  - (f.c_b + 1)::DOUBLE / (t.c_tot + 10))
                 * ln(((f.r_b + 1)::DOUBLE / (t.r_tot + 10))
                      / ((f.c_b + 1)::DOUBLE / (t.c_tot + 10)))
                   AS term
          FROM full_g f JOIN tot t USING (event_type))
        SELECT event_type, round(sum(term), 6) AS psi,
               round(sum(term), 6) > 0.2 AS drift
        FROM terms GROUP BY 1
    """

    # composes the ALREADY-GREEN batch scoring oracle — stream ≡ batch
    sql["stream_quality_filter"] = (
        "SELECT doc_id, quality FROM (" + sql["text_quality"]
        + ") z WHERE quality >= 0.75")

    sql["stream_static_enrich"] = """
        SELECT c.c_mktsegment, count(*) AS n_events,
               round(sum(e.value::DECIMAL(18,6)), 4)::DOUBLE
                 AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """

    sql["rank_eval_mrr"] = """
        WITH scored AS (
          SELECT q.vec_id AS query_id, q.label AS q_label,
                 c.vec_id AS corpus_id, c.label AS c_label,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS s
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20),
        ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY s DESC, corpus_id ASC) AS rank
          FROM scored)
        SELECT query_id,
               round(coalesce(
                 1.0 / min(CASE WHEN q_label = c_label
                                THEN rank END), 0.0), 6) AS rr,
               sum(CASE WHEN rank <= 5 AND q_label = c_label
                        THEN 1 ELSE 0 END) / 5.0 AS p_at_5,
               sum(CASE WHEN q_label = c_label THEN 1 ELSE 0 END)
                 ::BIGINT AS hits_at_10
        FROM ranked WHERE rank <= 10 GROUP BY 1
    """

    sql["q_skyline_2d"] = """
        WITH pts AS (SELECT round(p_retailprice, 2) AS price,
                            p_size AS size, count(*) AS n_parts
                     FROM part GROUP BY 1, 2)
        SELECT price, size, n_parts FROM pts a
        WHERE NOT EXISTS (
          SELECT 1 FROM pts b
          WHERE b.price <= a.price AND b.size >= a.size
            AND (b.price < a.price OR b.size > a.size))
    """

    sql["market_basket_triples"] = """
        WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                   FROM lineitem),
        l1 AS (SELECT p FROM b GROUP BY p HAVING count(*) >= 2),
        b1 AS (SELECT ok, p FROM b WHERE p IN (SELECT p FROM l1)),
        l2 AS (SELECT a.p AS x, c.p AS y
               FROM b1 a JOIN b1 c ON a.ok = c.ok AND a.p < c.p
               GROUP BY 1, 2 HAVING count(*) >= 2),
        tri AS (SELECT a.p AS x, c.p AS y, d.p AS z, a.ok
                FROM b1 a
                JOIN b1 c ON a.ok = c.ok AND a.p < c.p
                JOIN b1 d ON a.ok = d.ok AND c.p < d.p),
        pruned AS (
          SELECT t.* FROM tri t
          WHERE EXISTS (SELECT 1 FROM l2
                        WHERE l2.x = t.x AND l2.y = t.y)
            AND EXISTS (SELECT 1 FROM l2
                        WHERE l2.x = t.y AND l2.y = t.z)
            AND EXISTS (SELECT 1 FROM l2
                        WHERE l2.x = t.x AND l2.y = t.z))
        SELECT x, y, z, count(*) AS support
        FROM pruned GROUP BY 1, 2, 3 HAVING count(*) >= 2
        ORDER BY support DESC, x, y, z LIMIT 20
    """

    sql["geo_knn_grid"] = """
        WITH pts AS (
          SELECT c_custkey AS id,
                 (('0x' || substr(md5('lat:' || c_custkey::VARCHAR),
                                  1, 15))::BIGINT % 120000000)::DOUBLE
                   / 1000000.0 - 60.0 AS lat,
                 (('0x' || substr(md5('lon:' || c_custkey::VARCHAR),
                                  1, 15))::BIGINT % 360000000)::DOUBLE
                   / 1000000.0 - 180.0 AS lon
          FROM customer),
        pts2 AS (SELECT id, lat, lon,
                        floor(lon / 5)::INT AS cx,
                        floor(lat / 5)::INT AS cy
                 FROM pts),
        pr AS (
          SELECT s_suppkey AS probe_id,
                 (('0x' || substr(md5('lat:' || s_suppkey::VARCHAR),
                                  1, 15))::BIGINT % 120000000)::DOUBLE
                   / 1000000.0 - 60.0 AS plat,
                 (('0x' || substr(md5('lon:' || s_suppkey::VARCHAR),
                                  1, 15))::BIGINT % 360000000)::DOUBLE
                   / 1000000.0 - 180.0 AS plon
          FROM supplier WHERE s_suppkey <= 10),
        fan AS (SELECT probe_id, plat, plon,
                       floor(plon / 5)::INT + dx::INT AS cx,
                       floor(plat / 5)::INT + dy::INT AS cy
                FROM pr,
                     unnest(generate_series(-1, 1)) t1(dx),
                     unnest(generate_series(-1, 1)) t2(dy)),
        cand AS (SELECT f.probe_id, f.plat, f.plon,
                        p.id AS cust_id, p.lat, p.lon
                 FROM fan f JOIN pts2 p USING (cx, cy)),
        scored AS (
          SELECT probe_id, cust_id,
                 round(2.0 * 6371.0 * asin(sqrt(
                   sin(radians(lat - plat) / 2)
                     * sin(radians(lat - plat) / 2)
                   + cos(radians(plat)) * cos(radians(lat))
                     * sin(radians(lon - plon) / 2)
                     * sin(radians(lon - plon) / 2))), 6) AS dist_km
          FROM cand)
        SELECT probe_id, cust_id, dist_km, rnk FROM (
          SELECT *, row_number() OVER (
            PARTITION BY probe_id
            ORDER BY dist_km ASC, cust_id ASC) AS rnk
          FROM scored) z
        WHERE rnk <= 5
    """

    sql["s_python_datasource"] = """
        WITH langs AS (SELECT ['en','de','fr','es','zh'] AS ls),
        rows_g AS (
          SELECT i AS doc_id,
                 ls[(('0x' || substr(md5('synth:lang:' || i::VARCHAR),
                                     1, 15))::BIGINT % 5)::INT + 1]
                   AS lang,
                 (('0x' || substr(md5('synth:score:' || i::VARCHAR),
                                  1, 15))::BIGINT % 1000000)::DOUBLE
                   / 1000000.0 AS score
          FROM unnest(generate_series(0, 1999)) t(i), langs)
        SELECT lang, count(*) AS n_docs,
               round(sum(score), 6) AS score_sum
        FROM rows_g GROUP BY 1
    """

    sql["f_props_kv_udtf"] = """
        SELECT event_type, 'k' AS k, count(*) AS n,
               sum(CAST(regexp_extract(props, '"k": (\\d+)', 1)
                        AS INT))::BIGINT AS v_sum
        FROM events WHERE props IS NOT NULL
        GROUP BY event_type
    """

    sql["er_fs_link"] = """
        WITH cat AS (SELECT DISTINCT p_brand || ' ' || p_name
                       AS cat_name FROM part),
        men AS (
          SELECT p_partkey AS mention_id,
                 p_brand || ' ' || p_name AS fullname,
                 ('0x' || substr(md5('er:' ||
                    CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM part),
        men2 AS (
          SELECT mention_id,
                 CASE WHEN h % 10 < 4 THEN
                   substr(fullname, 1,
                          ((h % (length(fullname)-1)) + 2) - 1) ||
                   substr(fullname,
                          ((h % (length(fullname)-1)) + 2) + 1)
                 ELSE fullname END AS mention_text
          FROM men),
        lg AS (SELECT mention_id,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(mention_text)-2,1)+1),
                        i -> substr(mention_text, i, 3)))) AS gram
               FROM men2),
        rg AS (SELECT cat_name,
                      unnest(list_distinct(list_transform(
                        range(1, greatest(length(cat_name)-2,1)+1),
                        i -> substr(cat_name, i, 3)))) AS gram
               FROM cat),
        stops AS (SELECT gram FROM rg GROUP BY 1
                  HAVING count(*) > 100),
        lg2 AS (SELECT * FROM lg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        rg2 AS (SELECT * FROM rg
                WHERE gram NOT IN (SELECT gram FROM stops)),
        bpairs AS (SELECT DISTINCT mention_id, cat_name
                   FROM lg2 JOIN rg2 USING (gram)),
        cand AS (
          SELECT p.mention_id, m.mention_text, p.cat_name,
                 levenshtein(m.mention_text, p.cat_name) AS distance
          FROM bpairs p JOIN men2 m USING (mention_id)
          WHERE levenshtein(m.mention_text, p.cat_name) <= 3),
        g AS (SELECT mention_id, mention_text, cat_name,
                (string_split(mention_text, ' ')[1]
                 = string_split(cat_name, ' ')[1])::INT AS g1,
                (distance <= 1)::INT AS g2,
                (len(string_split(mention_text, ' '))
                 = len(string_split(cat_name, ' ')))::INT AS g3
              FROM cand),
        e AS (SELECT *, pm / (pm + pu) AS p FROM (
          SELECT *,
            0.1 * (CASE WHEN g1 = 1 THEN 0.9 ELSE 0.1 END)
                * (CASE WHEN g2 = 1 THEN 0.9 ELSE 0.1 END)
                * (CASE WHEN g3 = 1 THEN 0.9 ELSE 0.1 END) AS pm,
            0.9 * (CASE WHEN g1 = 1 THEN 0.1 ELSE 0.9 END)
                * (CASE WHEN g2 = 1 THEN 0.1 ELSE 0.9 END)
                * (CASE WHEN g3 = 1 THEN 0.1 ELSE 0.9 END) AS pu
          FROM g) z),
        mstep AS (SELECT sum(p) AS sp, count(*) AS n,
                         sum(p * g1) AS spg1,
                         sum((1.0 - p) * g1) AS sqg1,
                         sum(p * g2) AS spg2,
                         sum((1.0 - p) * g2) AS sqg2,
                         sum(p * g3) AS spg3,
                         sum((1.0 - p) * g3) AS sqg3
                  FROM e),
        par AS (SELECT spg1 / sp AS m1, sqg1 / (n - sp) AS u1,
                       spg2 / sp AS m2, sqg2 / (n - sp) AS u2,
                       spg3 / sp AS m3, sqg3 / (n - sp) AS u3
                FROM mstep),
        wts AS (
          SELECT mention_id, mention_text, cat_name,
            (CASE WHEN g1 = 1 THEN ln(m1 / u1) / ln(2.0)
                  ELSE ln((1.0 - m1) / (1.0 - u1)) / ln(2.0) END)
          + (CASE WHEN g2 = 1 THEN ln(m2 / u2) / ln(2.0)
                  ELSE ln((1.0 - m2) / (1.0 - u2)) / ln(2.0) END)
          + (CASE WHEN g3 = 1 THEN ln(m3 / u3) / ln(2.0)
                  ELSE ln((1.0 - m3) / (1.0 - u3)) / ln(2.0) END)
              AS fw
          FROM g, par)
        SELECT mention_id, mention_text, cat_name,
               round(fw, 6) AS fs_weight
        FROM wts
        ORDER BY round(fw, 6) DESC, mention_id ASC, cat_name ASC
        LIMIT 50
    """

    sql["s_gdpr_erasure"] = """
        SELECT user_id, event_type, count(*) AS n,
               round(sum(round(value, 6)::DECIMAL(18,6)), 4)::DOUBLE
                 AS total_value
        FROM events WHERE user_id <> 7
        GROUP BY 1, 2
    """

    sql["w_interval_union"] = """
        WITH iv AS (SELECT user_id, event_id,
                           floor(epoch(ts))::BIGINT AS s,
                           floor(epoch(ts))::BIGINT
                             + floor(value)::BIGINT AS e
                    FROM events),
        f AS (SELECT *,
                CASE WHEN max(e) OVER (
                       PARTITION BY user_id ORDER BY s, e, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) IS NULL
                       OR s > max(e) OVER (
                       PARTITION BY user_id ORDER BY s, e, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING)
                     THEN 1 ELSE 0 END AS is_new
              FROM iv),
        isl AS (SELECT *, sum(is_new) OVER (
                  PARTITION BY user_id ORDER BY s, e, event_id
                  ROWS UNBOUNDED PRECEDING) AS island
                FROM f),
        per AS (SELECT user_id, island,
                       max(e) - min(s) AS covered
                FROM isl GROUP BY 1, 2)
        SELECT user_id, sum(covered)::BIGINT AS active_seconds,
               count(*) AS n_islands
        FROM per GROUP BY 1
    """

    sql["text_zipf_fit"] = f"""
        WITH tf AS (
          SELECT w, count(*) AS n
          FROM (SELECT unnest({toks}) AS w
                FROM documents WHERE text IS NOT NULL)
          GROUP BY 1 ORDER BY n DESC, w ASC LIMIT 200),
        xy AS (SELECT ln(row_number() OVER (
                         ORDER BY n DESC, w ASC)::DOUBLE) AS x,
                      ln(n::DOUBLE) AS y
               FROM tf),
        m AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
                     sum(x * x) AS sxx, sum(x * y) AS sxy
              FROM xy)
        SELECT k,
               round((sxy - sx * sy / k::DOUBLE)
                     / (sxx - sx * sx / k::DOUBLE), 6) AS zipf_slope,
               round(sy / k::DOUBLE
                     - ((sxy - sx * sy / k::DOUBLE)
                        / (sxx - sx * sx / k::DOUBLE))
                       * sx / k::DOUBLE, 6) AS intercept
        FROM m
    """

    sql["orders_cohort_ltv"] = """
        WITH f AS (SELECT o_custkey,
                          min(date_trunc('month', o_orderdate))
                            AS cohort
                   FROM orders GROUP BY 1),
        j AS (SELECT o.o_custkey, f.cohort,
                     date_diff('month', f.cohort,
                               date_trunc('month', o.o_orderdate))
                       ::INT AS age,
                     o.o_totalprice::DECIMAL(18,2) AS rev
              FROM orders o JOIN f USING (o_custkey)),
        sizes AS (SELECT cohort, count(DISTINCT o_custkey) AS n_cust
                  FROM f GROUP BY 1),
        curve AS (SELECT cohort, age, sum(rev) AS rev
                  FROM j GROUP BY 1, 2),
        cum AS (SELECT cohort, age, sum(rev) OVER (
                  PARTITION BY cohort ORDER BY age
                  ROWS UNBOUNDED PRECEDING) AS cum
                FROM curve)
        SELECT strftime(c.cohort, '%Y-%m') AS cohort, c.age,
               s.n_cust,
               round(c.cum::DOUBLE / s.n_cust, 6)
                 AS ltv_per_customer
        FROM cum c JOIN sizes s USING (cohort)
    """

    sql["orders_interarrival"] = """
        WITH g AS (
          SELECT o_custkey,
                 o_orderdate::DATE - lag(o_orderdate::DATE) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS gap
          FROM orders),
        gg AS (SELECT o_custkey, gap FROM g WHERE gap IS NOT NULL)
        SELECT c.c_mktsegment, count(*) AS n_gaps,
               round(avg(gap), 6) AS mean_gap_days,
               round(quantile_cont(gap, 0.5), 4) AS median_gap_days,
               max(gap) AS max_gap_days
        FROM gg JOIN customer c ON gg.o_custkey = c.c_custkey
        GROUP BY 1
    """

    sql["events_moving_median"] = """
        WITH daily AS (SELECT event_type, ts::DATE AS d, count(*) AS n
                       FROM events GROUP BY 1, 2),
        days AS (SELECT DISTINCT event_type, d FROM daily),
        fan AS (SELECT event_type, n, d + i::INT AS wd
                FROM daily, unnest(generate_series(0, 6)) t(i))
        SELECT f.event_type, strftime(f.wd, '%Y-%m-%d') AS day,
               round(quantile_cont(f.n, 0.5), 4) AS med7
        FROM fan f JOIN days dy
          ON dy.event_type = f.event_type AND dy.d = f.wd
        GROUP BY 1, 2
    """

    sql["events_dow_seasonality"] = """
        WITH dow AS (SELECT dayofweek(ts) + 1 AS dow, count(*) AS n
                     FROM events GROUP BY 1),
        tot AS (SELECT sum(n)::BIGINT AS t, count(*) AS k FROM dow),
        chi AS (SELECT round(sum((n - t::DOUBLE / k)
                                 * (n - t::DOUBLE / k)
                                 / (t::DOUBLE / k)), 6) AS c
                FROM dow, tot)
        SELECT dow.dow, dow.n,
               round(dow.n / (tot.t::DOUBLE / tot.k), 6) AS idx,
               chi.c AS chi2_uniformity
        FROM dow, tot, chi
    """

    sql["stat_herfindahl"] = """
        WITH per AS (SELECT s_nationkey, s_suppkey,
                            sum(s_acctbal::DECIMAL(18,2)) AS bal
                     FROM supplier GROUP BY 1, 2),
        tot AS (SELECT s_nationkey, sum(bal) AS tot,
                       count(*) AS n_suppliers
                FROM per GROUP BY 1)
        SELECT per.s_nationkey, tot.n_suppliers,
               round(sum((per.bal::DOUBLE / tot.tot::DOUBLE)
                         * (per.bal::DOUBLE / tot.tot::DOUBLE)), 6)
                 AS hhi
        FROM per JOIN tot USING (s_nationkey)
        GROUP BY 1, 2
    """

    sql["q_pareto_coverage"] = """
        WITH per AS (SELECT o_custkey,
                            sum(o_totalprice::DECIMAL(18,2)) AS rev
                     FROM orders GROUP BY 1),
        tot AS (SELECT sum(rev) AS t, count(*) AS n_customers
                FROM per),
        cum AS (SELECT o_custkey,
                       (sum(rev) OVER (
                          ORDER BY rev DESC, o_custkey ASC
                          ROWS UNBOUNDED PRECEDING))::DOUBLE
                       / (SELECT t FROM tot)::DOUBLE AS cum_share
                FROM per)
        SELECT (SELECT count(*) + 1 FROM cum WHERE cum_share < 0.8)
                 AS n_customers_80,
               (SELECT n_customers FROM tot) AS n_customers,
               round((SELECT min(cum_share) FROM cum
                      WHERE cum_share >= 0.8), 6) AS share_at_cross,
               round((SELECT count(*) + 1 FROM cum
                      WHERE cum_share < 0.8)::DOUBLE
                     / (SELECT n_customers FROM tot), 6)
                 AS frac_customers
    """

    sql["events_user_entropy"] = """
        WITH c AS (SELECT user_id, event_type, count(*) AS n
                   FROM events GROUP BY 1, 2),
        t AS (SELECT user_id, sum(n)::BIGINT AS tot
              FROM c GROUP BY 1)
        SELECT user_id,
               round(-sum((n::DOUBLE / tot) * ln(n::DOUBLE / tot)),
                     6) AS entropy,
               count(*) AS n_types
        FROM c JOIN t USING (user_id)
        GROUP BY user_id
        ORDER BY entropy DESC, user_id ASC LIMIT 20
    """

    sql["events_max_silence"] = """
        WITH g AS (
          SELECT event_type, ts,
                 floor(epoch(ts))::BIGINT
                 - floor(epoch(lag(ts) OVER (
                     PARTITION BY event_type
                     ORDER BY ts, event_id)))::BIGINT AS gap
          FROM events),
        gg AS (SELECT * FROM g WHERE gap IS NOT NULL)
        SELECT event_type, gap AS max_gap_s,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS gap_end
        FROM (SELECT *, row_number() OVER (
                PARTITION BY event_type
                ORDER BY gap DESC, ts ASC) AS rn
              FROM gg) z
        WHERE rn = 1
    """

    sql["text_heaps_curve"] = f"""
        WITH first AS (
          SELECT w, min(doc_id) AS fd
          FROM (SELECT doc_id, unnest({toks}) AS w
                FROM documents WHERE text IS NOT NULL)
          GROUP BY 1),
        mx AS (SELECT max(doc_id) AS m FROM documents
               WHERE text IS NOT NULL),
        ck AS (SELECT i, ((i * (m + 1)) // 5)::BIGINT AS cut
               FROM unnest(generate_series(1, 5)) t(i), mx)
        SELECT ck.i AS checkpoint, ck.cut,
               sum((f.fd < ck.cut)::INT)::BIGINT AS vocab
        FROM first f CROSS JOIN ck
        GROUP BY 1, 2
    """

    sql["text_readability"] = f"""
        WITH d AS (
          SELECT doc_id,
                 len({_toks_sql('text')})::DOUBLE AS words,
                 greatest(len(regexp_extract_all(text, '[.!?]+')),
                          1)::DOUBLE AS sents,
                 greatest(len(regexp_extract_all(
                            {_norm_sql('text')}, '[aeiou]+')),
                          1)::DOUBLE AS syll
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id, words::BIGINT AS n_words,
               sents::BIGINT AS n_sents, syll::BIGINT AS n_syll,
               round(206.835 - 1.015 * (words / sents)
                     - 84.6 * (syll / words), 6) AS flesch
        FROM d WHERE words > 0
    """

    sql["text_ngram_novelty"] = f"""
        WITH toks AS (SELECT doc_id AS id, {toks} AS tk
                      FROM documents WHERE text IS NOT NULL),
        sh AS (
          SELECT id, CASE
            WHEN len(tk) >= 3 THEN list_distinct(list_transform(
                   range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
            WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
            ELSE []::VARCHAR[] END AS shs
          FROM toks),
        post AS (SELECT id, unnest(shs) AS g FROM sh),
        first AS (SELECT g, min(id) AS fd FROM post GROUP BY 1)
        SELECT id AS doc_id, count(*) AS n_grams,
               sum((fd = id)::INT)::BIGINT AS n_novel,
               round(sum((fd = id)::INT)::DOUBLE / count(*), 6)
                 AS novelty
        FROM post JOIN first USING (g)
        GROUP BY 1
    """

    sql["text_burstiness"] = f"""
        WITH tok AS (SELECT doc_id, unnest({toks}) AS w
                     FROM documents WHERE text IS NOT NULL),
        nd AS (SELECT count(*)::DOUBLE AS n FROM documents
               WHERE text IS NOT NULL),
        per AS (SELECT w, doc_id, count(*) AS c
                FROM tok GROUP BY 1, 2),
        stats AS (SELECT w, count(*) AS df, sum(c) AS sc,
                         sum(c * c) AS scc
                  FROM per GROUP BY 1)
        SELECT w, df,
               round((scc / nd.n - (sc / nd.n) * (sc / nd.n))
                     / (sc / nd.n), 6) AS fano
        FROM stats, nd
        ORDER BY df DESC, w ASC LIMIT 10
    """

    sql["events_stickiness"] = """
        WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id
                    FROM events),
        days AS (SELECT DISTINCT day FROM du),
        fan AS (SELECT day + i::INT AS wday, day, user_id
                FROM du, unnest(generate_series(0, 6)) t(i)),
        agg AS (SELECT wday,
                       count(DISTINCT user_id) AS wau,
                       count(DISTINCT CASE WHEN day = wday
                                           THEN user_id END) AS dau
                FROM fan
                WHERE wday IN (SELECT day FROM days)
                GROUP BY 1)
        SELECT strftime(wday, '%Y-%m-%d') AS day, dau, wau,
               round(dau::DOUBLE / wau, 6) AS stickiness
        FROM agg
    """

    sql["stat_wilson_ci"] = """
        WITH g AS (SELECT event_type, count(*) AS n,
                          sum((value > 500)::INT)::BIGINT AS k
                   FROM events GROUP BY 1)
        SELECT event_type, n, k,
               round(k::DOUBLE / n, 6) AS rate,
               round(((k::DOUBLE / n + 3.8416 / (2 * n))
                      / (1.0 + 3.8416 / n))
                     - (1.96 * sqrt((k::DOUBLE / n)
                                    * (1.0 - k::DOUBLE / n) / n
                                    + 3.8416 / (4 * n * n))
                        / (1.0 + 3.8416 / n)), 6) AS ci_lo,
               round(((k::DOUBLE / n + 3.8416 / (2 * n))
                      / (1.0 + 3.8416 / n))
                     + (1.96 * sqrt((k::DOUBLE / n)
                                    * (1.0 - k::DOUBLE / n) / n
                                    + 3.8416 / (4 * n * n))
                        / (1.0 + 3.8416 / n)), 6) AS ci_hi
        FROM g
    """

    sql["events_autocorr"] = """
        WITH daily AS (SELECT event_type, ts::DATE AS d,
                              count(*) AS n
                       FROM events GROUP BY 1, 2),
        lagged AS (SELECT event_type, d, n,
                          lag(n) OVER (PARTITION BY event_type
                                       ORDER BY d) AS pn,
                          lag(d) OVER (PARTITION BY event_type
                                       ORDER BY d) AS pd
                   FROM daily),
        pairs AS (SELECT * FROM lagged
                  WHERE pn IS NOT NULL AND d - pd = 1),
        m AS (SELECT event_type, count(*) AS np,
                     sum(n) AS sx, sum(pn) AS sy,
                     sum(n * n) AS sxx, sum(pn * pn) AS syy,
                     sum(n * pn) AS sxy
              FROM pairs GROUP BY 1)
        SELECT event_type, np AS n_pairs,
               round((sxy - sx * sy / np::DOUBLE)
                     / sqrt((sxx - sx * sx / np::DOUBLE)
                            * (syy - sy * sy / np::DOUBLE)), 6)
                 AS lag1_autocorr
        FROM m
    """

    sql["a_grouping_sets"] = """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) + 2 * grouping(l_linestatus)
                 AS gid,
               count(*) AS n,
               round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE
                 AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
    """

    sql["stat_welch_ttest"] = """
        WITH g AS (SELECT event_type, count(*) AS n, avg(value) AS m,
                          var_samp(value) AS v
                   FROM events
                   WHERE event_type IN ('purchase', 'view')
                   GROUP BY 1),
        a AS (SELECT n AS n1, m AS m1, v AS v1 FROM g
              WHERE event_type = 'purchase'),
        b AS (SELECT n AS n2, m AS m2, v AS v2 FROM g
              WHERE event_type = 'view')
        SELECT n1, n2,
               round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6)
                 AS t_stat,
               round(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
                     / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                        + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4)
                 AS df
        FROM a, b
    """

    sql["events_peak_concurrency"] = """
        WITH pts AS (
          SELECT event_type, floor(epoch(ts))::BIGINT AS t, 1 AS d
          FROM events
          UNION ALL
          SELECT event_type,
                 floor(epoch(ts))::BIGINT + floor(value)::BIGINT, -1
          FROM events),
        run AS (SELECT event_type, t, d,
                       sum(d) OVER (PARTITION BY event_type
                                    ORDER BY t, d
                                    ROWS UNBOUNDED PRECEDING)
                         AS conc
                FROM pts)
        SELECT event_type, conc::BIGINT AS peak_concurrency,
               strftime(to_timestamp(t), '%Y-%m-%d %H:%M:%S')
                 AS peak_at
        FROM (SELECT *, row_number() OVER (
                PARTITION BY event_type
                ORDER BY conc DESC, t ASC) AS rn
              FROM run) z
        WHERE rn = 1
    """

    sql["supplier_lead_time"] = """
        WITH m AS (
          SELECT l_suppkey, count(*) AS n_lines,
                 round(avg(l_shipdate::DATE - o_orderdate::DATE),
                       6) AS avg_lead_days,
                 max(l_shipdate::DATE - o_orderdate::DATE)
                   AS max_lead_days,
                 round(avg(((l_shipdate::DATE - o_orderdate::DATE)
                            > 90)::INT::DOUBLE), 6) AS slow_frac
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1)
        SELECT * FROM m
        ORDER BY slow_frac DESC, n_lines DESC, l_suppkey ASC
        LIMIT 20
    """

    sql["stat_grouped_pearson"] = """
        WITH m AS (SELECT p_brand, count(*) AS n,
                          sum(p_size::DOUBLE) AS sx,
                          sum(p_retailprice::DOUBLE) AS sy,
                          sum(p_size::DOUBLE * p_size::DOUBLE)
                            AS sxx,
                          sum(p_retailprice::DOUBLE
                              * p_retailprice::DOUBLE) AS syy,
                          sum(p_size::DOUBLE * p_retailprice::DOUBLE)
                            AS sxy
                   FROM part GROUP BY 1)
        SELECT p_brand, n,
               round((sxy - sx * sy / n::DOUBLE)
                     / sqrt((sxx - sx * sx / n::DOUBLE)
                            * (syy - sy * sy / n::DOUBLE)), 6)
                 AS pearson_r
        FROM m
    """

    sql["stat_spearman"] = """
        WITH per AS (SELECT user_id, count(*) AS x,
                            count(DISTINCT ts::DATE) AS y
                     FROM events GROUP BY 1),
        vcx AS (SELECT x, count(*) AS c FROM per GROUP BY 1),
        rx AS (SELECT x,
                      coalesce(sum(c) OVER (
                        ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0)::DOUBLE
                      + (c + 1)::DOUBLE / 2 AS r_x
               FROM vcx),
        vcy AS (SELECT y, count(*) AS c FROM per GROUP BY 1),
        ry AS (SELECT y,
                      coalesce(sum(c) OVER (
                        ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0)::DOUBLE
                      + (c + 1)::DOUBLE / 2 AS r_y
               FROM vcy),
        r AS (SELECT p.user_id, rx.r_x, ry.r_y
              FROM per p JOIN rx USING (x) JOIN ry USING (y)),
        m AS (SELECT count(*) AS n, sum(r_x) AS sx, sum(r_y) AS sy,
                     sum(r_x * r_x) AS sxx, sum(r_y * r_y) AS syy,
                     sum(r_x * r_y) AS sxy
              FROM r)
        SELECT n,
               round((sxy - sx * sy / n::DOUBLE)
                     / sqrt((sxx - sx * sx / n::DOUBLE)
                            * (syy - sy * sy / n::DOUBLE)), 6)
                 AS spearman_rho
        FROM m
    """

    sql["stat_anova_f"] = """
        WITH g AS (SELECT event_type, count(*) AS n_g,
                          sum(value) AS s_g,
                          sum(value * value) AS ss_g
                   FROM events GROUP BY 1),
        tot AS (SELECT count(*) AS k,
                       sum(n_g)::BIGINT AS n, sum(s_g) AS s,
                       sum(ss_g) AS ss,
                       sum(s_g * s_g / n_g) AS sq
                FROM g)
        SELECT k, n,
               round(sq - s * s / n, 4) AS ss_between,
               round(ss - sq, 4) AS ss_within,
               round(((sq - s * s / n) / (k - 1))
                     / ((ss - sq) / (n - k)), 6) AS f_stat
        FROM tot
    """

    sql["stat_mannwhitney_u"] = """
        WITH f AS (SELECT event_type, value FROM events
                   WHERE event_type IN ('purchase', 'view')),
        rn AS (SELECT event_type, value,
                      row_number() OVER (ORDER BY value) AS r
               FROM f),
        mr AS (SELECT event_type, value,
                      (min(r) OVER (PARTITION BY value)
                       + max(r) OVER (PARTITION BY value))::DOUBLE / 2
                        AS midrank
               FROM rn),
        tg AS (SELECT
                 sum(CASE WHEN event_type = 'purchase'
                          THEN midrank END) AS r1,
                 sum((event_type = 'purchase')::INT)::BIGINT AS n1,
                 sum((event_type = 'view')::INT)::BIGINT AS n2
               FROM mr)
        SELECT n1, n2,
               round(r1 - n1 * (n1 + 1) / 2, 4) AS u1,
               round((r1 - n1 * (n1 + 1) / 2 - n1 * n2 / 2)
                     / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0), 6) AS z
        FROM tg
    """

    sql["stat_eb_shrinkage"] = """
        WITH per AS (
          SELECT user_id, count(*) AS n,
                 sum((event_type = 'purchase')::INT)::BIGINT AS k
          FROM events GROUP BY 1),
        rates AS (SELECT user_id, n, k, k::DOUBLE / n AS p FROM per),
        mom AS (SELECT avg(p) AS m, var_pop(p) AS v FROM rates),
        prior AS (SELECT m, v,
                    CASE WHEN v > 0
                         THEN m * ((m * (1.0 - m) / v) - 1.0) END
                      AS alpha,
                    CASE WHEN v > 0
                         THEN (1.0 - m) * ((m * (1.0 - m) / v) - 1.0)
                    END AS beta
                  FROM mom)
        SELECT user_id, n, k, round(p, 6) AS raw_rate,
               round(CASE WHEN alpha IS NOT NULL
                          THEN (k + alpha) / (n + alpha + beta)
                          ELSE p END, 6) AS eb_rate
        FROM rates, prior
    """

    sql["sketch_hll_distinct"] = """
        WITH hashed AS (
          SELECT event_type,
                 (('0x' || substr(md5('hll:' || user_id::VARCHAR),
                                  1, 15))::BIGINT % 64)::INT AS j,
                 ('0x' || substr(md5('hll:' || user_id::VARCHAR),
                                 1, 15))::BIGINT // 64 AS w
          FROM events),
        ranked AS (SELECT event_type, j,
                          CASE WHEN w = 0 THEN 55
                               ELSE (54 - length(bin(w)) + 1)::INT
                          END AS r
                   FROM hashed),
        regs AS (SELECT event_type, j, max(r) AS m_j
                 FROM ranked GROUP BY 1, 2),
        grid AS (SELECT event_type, i::INT AS j
                 FROM (SELECT DISTINCT event_type FROM regs),
                      unnest(generate_series(0, 63)) t(i)),
        full_g AS (SELECT g.event_type, g.j,
                          coalesce(r.m_j, 0) AS m_j
                   FROM grid g LEFT JOIN regs r
                     ON g.event_type = r.event_type AND g.j = r.j),
        agg AS (SELECT event_type,
                       sum(pow(2.0, -m_j)) AS z,
                       sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END)
                         ::BIGINT AS v
                FROM full_g GROUP BY 1),
        exact AS (SELECT event_type,
                         count(DISTINCT user_id) AS n_exact
                  FROM events GROUP BY 1)
        SELECT a.event_type, e.n_exact, a.v,
               round(CASE WHEN (0.709 * 64.0 * 64.0) / a.z <= 2.5 * 64
                           AND a.v > 0
                          THEN 64.0 * ln(64.0 / a.v)
                          ELSE (0.709 * 64.0 * 64.0) / a.z END, 4)
                 AS hll_est
        FROM agg a JOIN exact e USING (event_type)
    """

    # stream ≡ batch: the streaming register table drains to exactly
    # the batch aggregation, so the batch HLL oracle applies verbatim
    sql["stream_hll_distinct"] = sql["sketch_hll_distinct"]

    sql["ml_ks_drift"] = """
        WITH cut AS (SELECT min(ts::DATE) + 15 AS cut FROM events),
        marked AS (
          SELECT event_type, value,
                 CASE WHEN ts::DATE < (SELECT cut FROM cut)
                      THEN 1 ELSE 0 END AS is_ref
          FROM events),
        pv AS (SELECT event_type, value,
                      sum(is_ref)::BIGINT AS r,
                      sum(1 - is_ref)::BIGINT AS c
               FROM marked GROUP BY 1, 2),
        runs AS (
          SELECT event_type,
                 abs(sum(r) OVER (PARTITION BY event_type ORDER BY value
                                  ROWS UNBOUNDED PRECEDING)::DOUBLE
                     / sum(r) OVER (PARTITION BY event_type)
                   - sum(c) OVER (PARTITION BY event_type ORDER BY value
                                  ROWS UNBOUNDED PRECEDING)::DOUBLE
                     / sum(c) OVER (PARTITION BY event_type)) AS g,
                 sum(r) OVER (PARTITION BY event_type) AS n,
                 sum(c) OVER (PARTITION BY event_type) AS m
          FROM pv)
        SELECT event_type, round(max(g), 6) AS ks_d,
               max(g) > 1.358 * sqrt((n + m)::DOUBLE / (n * m))
                 AS drift
        FROM runs GROUP BY event_type, n, m
    """

    sql["events_ewma_smooth"] = """
        WITH daily AS (SELECT event_type, ts::DATE AS d, count(*) AS n
                       FROM events GROUP BY 1, 2)
        SELECT a.event_type, strftime(a.d, '%Y-%m-%d') AS day,
               round(sum(pow(0.7, (a.d - b.d)) * b.n)
                     / sum(pow(0.7, (a.d - b.d))), 6) AS ewma
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type
         AND a.d - b.d BETWEEN 0 AND 13
        GROUP BY a.event_type, a.d
    """

    sql["events_cusum_changepoint"] = """
        WITH daily AS (SELECT event_type, ts::DATE AS d, count(*) AS n
                       FROM events GROUP BY 1, 2),
        stats AS (SELECT event_type, avg(n) AS mu,
                         stddev_pop(n) AS sd
                  FROM daily GROUP BY 1),
        j AS (SELECT daily.event_type, d, n, mu, sd,
                sum(n - mu - 0.5 * sd) OVER (
                  PARTITION BY daily.event_type ORDER BY d
                  ROWS UNBOUNDED PRECEDING) AS cs
              FROM daily JOIN stats USING (event_type)),
        k AS (SELECT *, min(least(cs, 0)) OVER (
                PARTITION BY event_type ORDER BY d
                ROWS UNBOUNDED PRECEDING) AS smin
              FROM j)
        SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
               round(cs - smin, 6) AS cusum,
               (cs - smin) > 3.0 * sd AS drift
        FROM k
    """

    sql["dq_k_anonymity"] = """
        SELECT event_type, strftime(ts::DATE, '%Y-%m-%d') AS day,
               count(*) AS class_size,
               count(DISTINCT user_id) AS n_sensitive,
               count(*) >= 25 AS k25_ok,
               count(DISTINCT user_id) >= 10 AS l10_ok
        FROM events GROUP BY event_type, ts::DATE
    """

    sql["dp_noisy_counts"] = """
        WITH g AS (SELECT event_type, ts::DATE AS d, count(*) AS n
                   FROM events GROUP BY 1, 2),
        h AS (SELECT event_type, d, n,
                ((('0x' || substr(md5('dp:' || event_type || ':'
                                      || strftime(d, '%Y-%m-%d')),
                             1, 15))::BIGINT % 1000000000)::DOUBLE
                 + 0.5) / 1000000000.0 AS u
              FROM g)
        SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
               round(n + (-sign(u - 0.5)
                          * ln(1.0 - 2.0 * abs(u - 0.5))), 6)
                 AS noisy_n
        FROM h
    """

    sql["events_rolling_distinct_users"] = """
        WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id
                    FROM events),
        days AS (SELECT DISTINCT day FROM du),
        fan AS (SELECT day + i::INT AS wday, user_id
                FROM du, unnest(generate_series(0, 6)) t(i))
        SELECT strftime(d.day, '%Y-%m-%d') AS day,
               count(DISTINCT f.user_id) AS users_7d
        FROM days d JOIN fan f ON f.wday = d.day
        GROUP BY 1
    """

    # pHash near-dup: w=48, h=32 fixed -> L=lcm(32,48)=96; u = 3*colSum
    # (48 of them) then 2*rowSum (first 16); bit_j = u_j*64 > sum(u)
    sql["mm_phash_near_dup"] = """
        WITH refs AS (
          SELECT printf('img://doc%08d', doc_id) AS mid,
                 printf('img://base%08d', doc_id % 40) AS base
          FROM documents WHERE doc_id < 200),
        mc AS (SELECT mid,
                 (('0x' || substr(md5(mid || ':p'), 1, 15))::BIGINT
                   % 128)::INT AS p,
                 repeat(md5(base), 8) AS hx0,
                 substr(md5(mid), 1, 1) AS nb
               FROM refs),
        m AS (SELECT mid,
                substr(hx0, 1, 2*p + 1) || nb || substr(hx0, 2*p + 3)
                  AS hx
              FROM mc),
        lb AS (SELECT mid,
                 list_transform(range(128),
                   i -> ('0x' || substr(hx, (2*i)::INT + 1, 2))::BIGINT)
                   AS lb
               FROM m),
        u AS (SELECT mid, list_concat(
                list_transform(range(48), c ->
                  3 * list_sum(list_transform(range(32),
                    r -> lb[((r*48 + c) % 128)::INT + 1]))::BIGINT),
                list_transform(range(16), r ->
                  2 * list_sum(list_transform(range(48),
                    c -> lb[((r*48 + c) % 128)::INT + 1]))::BIGINT))
                AS u
              FROM lb),
        ut AS (SELECT mid, u, list_sum(u)::BIGINT AS tot FROM u),
        codes AS (SELECT mid,
            list_sum([CASE WHEN u[(0*16 + i)::INT + 1] * 64 > tot
                      THEN (1::BIGINT << i::INT) ELSE 0 END
                      for i in range(16)])::BIGINT AS b0,
            list_sum([CASE WHEN u[(1*16 + i)::INT + 1] * 64 > tot
                      THEN (1::BIGINT << i::INT) ELSE 0 END
                      for i in range(16)])::BIGINT AS b1,
            list_sum([CASE WHEN u[(2*16 + i)::INT + 1] * 64 > tot
                      THEN (1::BIGINT << i::INT) ELSE 0 END
                      for i in range(16)])::BIGINT AS b2,
            list_sum([CASE WHEN u[(3*16 + i)::INT + 1] * 64 > tot
                      THEN (1::BIGINT << i::INT) ELSE 0 END
                      for i in range(16)])::BIGINT AS b3
          FROM ut),
        eb AS (SELECT mid, k,
                 CASE k WHEN 0 THEN b0 WHEN 1 THEN b1
                        WHEN 2 THEN b2 ELSE b3 END AS v
               FROM codes, unnest([0, 1, 2, 3]) t(k)),
        cand AS (SELECT DISTINCT a.mid AS src, b.mid AS dst
                 FROM eb a JOIN eb b ON a.k = b.k AND a.v = b.v
                                    AND a.mid < b.mid)
        SELECT src, dst, hamming FROM (
          SELECT c.src, c.dst,
                 (bit_count(xor(s.b0, d.b0)) + bit_count(xor(s.b1, d.b1))
                + bit_count(xor(s.b2, d.b2)) + bit_count(xor(s.b3, d.b3))
                 )::INT AS hamming
          FROM cand c JOIN codes s ON c.src = s.mid
                      JOIN codes d ON c.dst = d.mid) z
        WHERE hamming <= 8
    """

    sql["select_dsir_weights"] = f"""
        WITH tok AS (
          SELECT doc_id, lang, (lang = 'en')::INT AS tgt,
                 ('0x' || substr(md5('dsir:' || w), 1, 15))::BIGINT
                   % 64 AS b
          FROM (SELECT doc_id, lang, unnest({toks}) AS w
                FROM documents WHERE text IS NOT NULL)),
        hist AS (SELECT b, count(*)::BIGINT AS raw_b,
                        sum(tgt)::BIGINT AS tgt_b
                 FROM tok GROUP BY 1),
        tot AS (SELECT sum(raw_b)::BIGINT AS r_tot,
                       sum(tgt_b)::BIGINT AS t_tot FROM hist),
        dim AS (
          SELECT b, ln((tgt_b + 1)::DOUBLE / (t_tot + 64)::DOUBLE)
                  - ln((raw_b + 1)::DOUBLE / (r_tot + 64)::DOUBLE)
                    AS lw
          FROM hist, tot)
        SELECT doc_id, lang, count(*) AS n_tokens,
               round(sum(lw), 6) AS dsir_logw
        FROM tok JOIN dim USING (b)
        GROUP BY 1, 2
        ORDER BY dsir_logw DESC, doc_id ASC LIMIT 50
    """

    sql["rlhf_preference_pairs"] = """
        WITH r AS (
          SELECT user_id, event_id, value,
                 row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY value DESC, event_id ASC) AS rhi,
                 row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY value ASC, event_id ASC) AS rlo
          FROM events)
        SELECT c.user_id, c.event_id AS chosen_id,
               j.event_id AS rejected_id,
               round(c.value - j.value, 6) AS margin
        FROM (SELECT * FROM r WHERE rhi = 1) c
        JOIN (SELECT * FROM r WHERE rlo = 1) j USING (user_id)
        WHERE c.value > j.value
    """

    sql["text_ppl_buckets"] = f"""
        WITH tok AS (
          SELECT doc_id, lang, unnest({toks}) AS w
          FROM documents WHERE text IS NOT NULL),
        uc AS (SELECT w, count(*) AS c_w FROM tok GROUP BY 1),
        tot AS (SELECT sum(c_w)::BIGINT AS n_tok,
                       count(*)::BIGINT AS vocab FROM uc),
        scored AS (
          SELECT doc_id, lang,
                 round(sum(ln((c_w + 1)::DOUBLE
                              / (n_tok + vocab)::DOUBLE))
                       / count(*), 6) AS mean_logp
          FROM tok JOIN uc USING (w), tot
          GROUP BY doc_id, lang),
        bkt AS (
          SELECT lang, mean_logp,
                 ntile(3) OVER (PARTITION BY lang
                                ORDER BY mean_logp DESC, doc_id ASC)
                   AS ppl_bucket
          FROM scored)
        SELECT lang, ppl_bucket, count(*) AS n_docs,
               round(avg(mean_logp), 6) AS avg_logp
        FROM bkt GROUP BY 1, 2
    """

    sql.update(_kg_oracle_sql())
    return sql


def _kg_oracle_sql() -> dict[str, str]:
    """DuckDB oracles for the KG family, over the MATERIALIZED fixture
    world (catalog = pandas-written, docs/linked/qembs = committed
    parquet). The UDF stages (hash embeddings, mention kernel) are
    pinned by pytest against the pure-pandas oracle; everything
    relational downstream — entity linking's aggregation, canonical
    CC (recursive CTE), pair/edge generation, triple unpivot, lexicon
    scan, 1-hop expand, dual-path RRF — is re-derived here in ANSI SQL
    from those inputs, so the driver's value-hash check covers it."""
    from fashion_knowledge_graph_spark import taxonomy as ktx

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                            "/root/testdata/sf0.01")
    p = _kg_paths(sf_dir)
    if not os.path.exists(p["done"]):
        # the oracle inputs are produced by the Spark pipeline — make
        # sure they exist no matter the order the driver calls us in
        spark = SparkSession.getActiveSession()
        own_session = spark is None
        if own_session:
            spark = SparkSession.builder.master("local[8]") \
                .appName("kg-oracle-materialize") \
                .config("spark.sql.shuffle.partitions", "16").getOrCreate()
        _kg_world(spark, sf_dir)
        if own_session:
            # don't leave our throwaway session active (the caller's
            # later getOrCreate would silently inherit it), and drop
            # cached DataFrames bound to it — the world is on disk
            _KG_CACHE.pop(sf_dir, None)
            spark.stop()

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

    # attribute-triple unpivot arms, generated from the same taxonomy
    # the Spark side uses (operators/attributes.py)
    arms = []
    for attr in ktx.SCALAR_ATTRS:
        pred = ktx.PREDICATES[attr]
        arms.append(f"SELECT pid AS subj, '{pred}' AS pred, "
                    f"{attr} AS obj, score FROM lc "
                    f"WHERE {attr} IS NOT NULL")
    for attr in ktx.MULTI_ATTRS:
        pred = ktx.PREDICATES[attr]
        arms.append(f"SELECT pid AS subj, '{pred}' AS pred, "
                    f"unnest({attr}) AS obj, score FROM lc")
    attr_triples_sql = " UNION ALL ".join(arms)

    # doc-aware twin of the unpivot (kg_asof_state needs the
    # observation doc to derive its ingest day)
    arms_doc = []
    for attr in ktx.SCALAR_ATTRS:
        pred = ktx.PREDICATES[attr]
        arms_doc.append(f"SELECT pid AS subj, '{pred}' AS pred, "
                        f"{attr} AS obj, doc_id FROM lc "
                        f"WHERE {attr} IS NOT NULL")
    for attr in ktx.MULTI_ATTRS:
        pred = ktx.PREDICATES[attr]
        arms_doc.append(f"SELECT pid AS subj, '{pred}' AS pred, "
                        f"unnest({attr}) AS obj, doc_id FROM lc")
    attr_triples_doc_sql = " UNION ALL ".join(arms_doc)

    # lexicon (token, pred, obj) incl. hyphen aliases
    lex_rows = []
    for attr, values in ktx.LEXICON_PREDS.items():
        pred = ktx.PREDICATES[attr]
        for v in values:
            surfaces = {v} | ({v.replace("-", " ")} if "-" in v else set())
            for s in sorted(surfaces):
                lex_rows.append(f"('{s}', '{pred}', '{v}')")
    lex_values = ", ".join(lex_rows)

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

    sql: dict[str, str] = {}

    sql["kg_canonical"] = f"""
        WITH RECURSIVE {base}
        SELECT product_id, canonical_id FROM canon
    """

    # incremental update must land on the SAME mapping a from-scratch
    # recompute produces (update_canonical_mapping's growth contract)
    sql["kg_canonical_incremental"] = sql["kg_canonical"]

    sql["kg_edges"] = f"""
        WITH RECURSIVE {base}
        SELECT src, dst, rel_type, weight, source FROM edges
    """

    # committed-edges MERGE new-docs delta must equal the full
    # re-aggregation — kg_edges' replay plus the sorted evidence
    # string, so the list merge itself is hash-checked
    sql["kg_edges_incremental"] = f"""
        WITH RECURSIVE {base},
        ev AS (SELECT src, dst, rel_type,
                      string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
                        AS evidence
               FROM prs GROUP BY 1, 2, 3)
        SELECT e.src, e.dst, e.rel_type, e.weight, e.source, v.evidence
        FROM edges e JOIN ev v USING (src, dst, rel_type)
    """

    sql["kg_triples"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}
        SELECT subj, pred, obj, score FROM ({attr_triples_sql})
        UNION ALL
        SELECT subj, pred, obj, 1.0::DOUBLE AS score FROM ttr
        UNION ALL
        SELECT src AS subj, 'complements' AS pred, dst AS obj,
               weight::DOUBLE AS score
        FROM edges
    """

    # attribute-overlap similarity: distinct (pid, pred=obj) tokens
    # re-derived from the attr-triple arms, inverted self-join,
    # integer-derived Jaccard
    sql["kg_negative_samples"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte},
        tri AS (
          SELECT DISTINCT subj::VARCHAR AS subj, pred, obj::VARCHAR AS obj
          FROM (SELECT subj, pred, obj FROM ({attr_triples_sql})
                UNION ALL
                SELECT subj, pred, obj FROM ttr)),
        v AS (SELECT pred, obj,
                     row_number() OVER (PARTITION BY pred
                                        ORDER BY obj) AS rnk,
                     count(*) OVER (PARTITION BY pred) AS vsz
              FROM (SELECT DISTINCT pred, obj FROM tri)),
        j AS (SELECT t.subj, t.pred, t.obj, v.rnk, v.vsz,
                     ('0x' || substr(md5('neg:' || t.subj || ':'
                                         || t.pred || ':' || t.obj),
                                     1, 15))::BIGINT AS h
              FROM tri t JOIN v ON v.pred = t.pred AND v.obj = t.obj
              WHERE v.vsz >= 2),
        n AS (SELECT subj, pred, obj,
                     CASE WHEN h % (vsz - 1) + 1 < rnk
                          THEN h % (vsz - 1) + 1
                          ELSE h % (vsz - 1) + 2 END AS nrk
              FROM j)
        SELECT n.subj, n.pred, n.obj, v.obj AS neg_obj
        FROM n JOIN v ON v.pred = n.pred AND v.rnk = n.nrk
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

    sql["kg_motif_wedge"] = f"""
        WITH RECURSIVE {base},
        ed AS (SELECT src, dst FROM edges WHERE weight >= 2),
        sym AS (SELECT src, dst FROM ed
                UNION ALL SELECT dst AS src, src AS dst FROM ed)
        SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
        FROM sym w1 JOIN sym w2 ON w2.src = w1.dst
        WHERE w1.src < w2.dst
          AND NOT EXISTS (SELECT 1 FROM sym n
                          WHERE n.src = w1.src AND n.dst = w2.dst)
    """

    sql["docs_span_audit"] = f"""
        WITH d AS (SELECT doc_id, spans,
                          list_transform(spans, s -> s.offset) AS offs
                   FROM read_parquet('{docs_glob}'))
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
    """

    sql["kg_pred_stats"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    sql["kg_star_join"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte}
        SELECT a.subj, o.obj AS gender
        FROM (SELECT subj FROM tri
              WHERE pred = 'hasColor' AND obj = 'black') a
        JOIN (SELECT subj FROM tri
              WHERE pred = 'hasMaterial' AND obj = 'cotton') b
          ON a.subj = b.subj
        LEFT JOIN (SELECT subj, obj FROM tri WHERE pred = 'gender') o
          ON o.subj = a.subj
    """

    sql["kg_attr_similarity"] = f"""
        WITH RECURSIVE {base},
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
    """

    sql["kg_2hop_recs"] = f"""
        WITH RECURSIVE {base},
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
    """

    sql["kg_complete_the_look"] = f"""
        WITH RECURSIVE {base}, {nodes_cte},
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
    """

    pregate_glob = os.path.join(p["pregate"], "*.parquet")
    sql["kg_mention_gates"] = f"""
        -- reference gates over the PRE-gate segmentation rows:
        -- P6 Background skip, P5 area >= 1028, P3/P8 type present,
        -- W1 top-1-by-area per doc (image_processor.py:113-142)
        SELECT doc_id, span_idx, label, area, type FROM (
          SELECT doc_id, span_idx, label, area, type,
                 row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY area DESC, span_idx ASC) AS rn
          FROM read_parquet('{pregate_glob}')
          WHERE label <> 'Background' AND area >= 1028
            AND type IS NOT NULL) t
        WHERE rn = 1
    """

    sql["kg_ctl_filtered"] = f"""
        WITH RECURSIVE {base}, {nodes_cte},
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
    """

    sql["kg_outfit_from_text"] = f"""
        WITH RECURSIVE {base},
        q AS (SELECT query_id, q_img::DOUBLE[] AS qi,
                     q_style::DOUBLE[] AS qs
              FROM read_parquet('{qembs_glob}')),
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
    """

    # outfit_from_image: replay the linking join over the materialized
    # query-mention embeddings — metadata filters (type/color equality,
    # gender ∈ {unisex, mention gender}), exact cosine (inputs are
    # unit-norm so dot ≡ cosine, double products of float32 inputs are
    # exact on both engines), then the W5 top-1-then-threshold gate at
    # 0.7 with product_id-asc tie-break.
    sql["kg_outfit_from_image"] = f"""
        WITH RECURSIVE {base},
        qm AS (SELECT doc_id, span_idx, m_type, m_color, m_gender,
                      embedding::DOUBLE[] AS q_emb
               FROM read_parquet('{qimg_glob}')),
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
    """

    sql["kg_lineage_metrics"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {nodes_cte},
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

    sql["kg_taxonomy_closure"] = f"""
        WITH RECURSIVE {hier_ctes}
        SELECT child, parent, CAST(min(depth) AS INT) AS depth
        FROM reach2 GROUP BY 1, 2
    """

    pm_values = ", ".join(
        f"('{k}', '{v}')"
        for k, v in sorted(ktx.ENTAILED_PREDICATES.items()))
    sql["kg_rdfs_entailment"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
        {hier_ctes},
        pm(pred_in, pred_out) AS (VALUES {pm_values})
        SELECT DISTINCT t.subj, pm.pred_out AS pred,
               r.parent AS obj
        FROM tri t
        JOIN pm ON pm.pred_in = t.pred
        JOIN reach2 r ON r.child = t.obj
    """

    # shape suite mirrors operators/ontology.py::kg_shapes()
    shape_rows, rng_rows = [], []
    for attr, values in ktx.SCALAR_ATTRS.items():
        shape_rows.append((ktx.PREDICATES[attr], "true", "true"))
        rng_rows += [(ktx.PREDICATES[attr], v) for v in values]
    for attr, values in ktx.MULTI_ATTRS.items():
        shape_rows.append((ktx.PREDICATES[attr], "false", "true"))
        rng_rows += [(ktx.PREDICATES[attr], v) for v in values]
    shape_rows.append(("complements", "false", "false"))
    shape_values = ", ".join(f"('{p}', {f}, {h})"
                             for p, f, h in shape_rows)
    rng_values = ", ".join(f"('{p}', '{v}')" for p, v in rng_rows)
    sql["kg_shacl_report"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    sql["kg_symmetric_closure"] = f"""
        WITH RECURSIVE {base},
        fw AS (SELECT DISTINCT src AS s, dst AS d FROM edges)
        SELECT r.d AS subj, r.s AS obj FROM fw r
        WHERE NOT EXISTS (SELECT 1 FROM fw x
                          WHERE x.s = r.d AND x.d = r.s)
    """

    # BGP compiler replay: same pattern as hand-written self-joins
    sql["kg_bgp_query"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte}
        SELECT DISTINCT e.subj AS a, e.obj AS b, s1.obj AS s,
               g.obj AS g
        FROM tri e
        JOIN tri s1 ON s1.pred = 'hasStyle' AND s1.subj = e.subj
        JOIN tri s2 ON s2.pred = 'hasStyle' AND s2.subj = e.obj
                   AND s2.obj = s1.obj
        LEFT JOIN (SELECT subj, obj FROM tri
                   WHERE pred = 'gender') g ON g.subj = e.subj
        WHERE e.pred = 'complements'
    """

    # span-level open IE: lexicon incl. the type vocabulary; a span is
    # an instance iff it names exactly one type
    lex_ie_values = lex_values + ", " + ", ".join(
        f"('{v}', 'type', '{v}')" for v in ktx.TYPES)
    sql["kg_open_ie"] = f"""
        WITH tspans AS (
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
               GROUP BY inst HAVING count(DISTINCT obj) = 1)
        SELECT h.inst AS subj, h.pred, h.obj, h.doc_id
        FROM hits h JOIN ok USING (inst)
    """

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
    sql["kg_open_ie_link"] = f"""
        WITH RECURSIVE {base}, {ie_ctes},
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
    """

    # BGP negation: NOT EXISTS anti-join replay
    sql["kg_bgp_negation"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte}
        SELECT DISTINCT e.subj AS x, t.obj AS t
        FROM tri e
        JOIN tri t ON t.subj = e.subj AND t.pred = 'type'
        WHERE e.pred = 'complements'
          AND NOT EXISTS (SELECT 1 FROM tri n
                          WHERE n.subj = e.subj
                            AND n.pred = 'hasStyle'
                            AND n.obj = 'formal')
    """

    # BGP aggregation: GROUP BY / HAVING over the solution set
    sql["kg_bgp_aggregate"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # BGP ORDER BY/LIMIT: total-order top-3 styles by pair count
    sql["kg_bgp_topk"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # corrupted-tail negatives: every md5 draw replayed exactly
    _np_vocab = ", ".join(
        "('%s', [%s])" % (p, ", ".join(f"'{v}'" for v in vs))
        for p, vs in (("hasColor", ktx.COLORS),
                      ("hasMaterial", ktx.MATERIALS),
                      ("hasStyle", ktx.STYLES)))
    sql["kg_negative_samples"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

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
    sql["kg_transe_eval"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

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
    sql["kg_transe_sampled"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # BGP VALUES: inline (style, color) seed relation
    sql["kg_bgp_values"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # property path complements+ bounded at 3 hops (depth-bounded
    # recursive CTE twin of the frontier BFS)
    sql["kg_property_path"] = f"""
        WITH RECURSIVE {base},
        e AS (SELECT DISTINCT src AS s, dst AS o FROM edges),
        r(s, o, d) AS (
          SELECT s, o, 1 FROM e
          UNION ALL
          SELECT r.s, e.o, r.d + 1 FROM r JOIN e ON e.s = r.o
          WHERE r.d < 3)
        SELECT DISTINCT s AS subj, o AS obj FROM r
    """

    # path expression ^(hasColor|hasMaterial)/complements: the
    # inverse-union arm is the attribute-triples slice read backwards,
    # the sequence step one join on the shared item
    sql["kg_path_expr"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte}
        SELECT DISTINCT a.obj AS val, c.obj AS comp
        FROM tri a
        JOIN tri c ON c.subj = a.subj AND c.pred = 'complements'
        WHERE a.pred IN ('hasColor', 'hasMaterial')
    """

    # point-in-time attribute state: max observation day <= T per
    # (subj, pred), then the max obj among that day's observations —
    # the join-back formulation of the Spark side's single max_by
    sql["kg_asof_state"] = f"""
        WITH RECURSIVE {base},
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
    """

    # DESCRIBE: sorted (pred=obj) packing per product-subject triple
    sql["kg_describe"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte}
        SELECT subj,
               string_agg(pred || '=' || obj, ';'
                          ORDER BY pred || '=' || obj) AS profile,
               count(DISTINCT pred) AS n_preds
        FROM tri WHERE subj LIKE 'p%'
        GROUP BY subj
    """

    # KG evolution diff: old edges re-aggregated from the md5-split
    # prs slice, full-outer joined against the full edges rollup
    sql["kg_graph_diff"] = f"""
        WITH RECURSIVE {base},
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
    """

    # per-class predicate coverage: entity-distinct assertions joined
    # to the type map, exact double ratio over the per-type totals
    sql["kg_predicate_coverage"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # sameAs merge audit: member attrs from the catalog joined through
    # the canonical mapping, per-group sorted value sets + conflicts
    sql["kg_sameas_fusion"] = f"""
        WITH RECURSIVE {base},
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
    """

    # ontology rollup: value→ancestor map = closure ∪ identity, then
    # one distinct-entity count per (pred, class)
    sql["kg_taxonomy_rollup"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # negated property set !(type|complements) joined with the type
    # pattern: the anti-filtered scan IS the whole path step
    sql["kg_path_negset"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte}
        SELECT DISTINCT a.subj AS item, a.obj AS val,
               t.obj AS item_type
        FROM tri a
        JOIN tri t ON t.subj = a.subj AND t.pred = 'type'
        WHERE a.pred NOT IN ('type', 'complements')
    """

    # type-level quotient graph: both endpoint lookups against the
    # catalog-sized type dimension, one (src_type, dst_type) rollup
    sql["kg_quotient_graph"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
        ty AS (SELECT DISTINCT subj AS id, obj AS t
               FROM tri WHERE pred = 'type')
        SELECT ts.t AS src_type, td.t AS dst_type,
               count(*) AS n_edges,
               sum(e.weight)::BIGINT AS weight_mass
        FROM edges e
        JOIN ty ts ON ts.id = e.src
        JOIN ty td ON td.id = e.dst
        GROUP BY 1, 2
    """

    # forward-chain fixpoint in closed form: this rule set's closure
    # is exactly closure(subClassOf) + the two typing arms + the
    # complements flip — derived predicates never feed rule bodies
    # except subClassOf, whose recursion the CTE replays
    sql["kg_forward_chain"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

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

    sql["kg_truth_discovery"] = f"""
        WITH RECURSIVE {base},
        {truth_ctes}
        SELECT w.subj, w.pred, w.obj,
               w.score::DOUBLE / t.denom::DOUBLE AS confidence,
               w.n_sources::INT AS n_sources
        FROM win w JOIN tot t
          ON t.subj = w.subj AND t.pred = w.pred
        WHERE w.rn = 1
    """

    # constraint repair: functional-violation slots joined with the
    # truth-discovery winner; drop set = sorted non-winner values
    sql["kg_repair_suggestions"] = f"""
        WITH RECURSIVE {base},
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
    """

    # GraphSAGE layered sampling, fanouts (3, 2), md5-ranked choice
    sql["kg_graphsage_sample"] = f"""
        WITH RECURSIVE {base},
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
    """

    # linking accuracy vs the media_ref-encoded true entity
    sql["kg_linking_accuracy"] = f"""
        WITH RECURSIVE {base},
        sp AS (SELECT doc_id,
                      generate_subscripts(spans, 1) - 1 AS span_idx,
                      (unnest(spans)).kind AS kind,
                      (unnest(spans)).media_ref AS mr
               FROM read_parquet('{docs_glob}')),
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
    """

    # pairwise clustering eval from contingency counts
    sql["er_canonical_eval"] = f"""
        WITH RECURSIVE {base},
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
    """

    # meta-blocking: CBS weights over the purged block collection,
    # WEP pruning at the global mean edge weight
    sql["er_meta_blocking"] = f"""
        WITH RECURSIVE {base},
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
    """

    # W3C direct mapping: one UNION ALL arm per mapped column / FK,
    # printf for the money literal so the form is engine-portable
    sql["kg_rdb_direct_map"] = """
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
    """

    # PRA features: per predicate, distinct shared values reachable
    # as src -p-> v <-p- dst for the edge candidate pairs
    sql["kg_pra_features"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # WL refinement, 2 rounds unrolled: label_{i+1} =
    # md5(label_i || '|' || sorted neighbor-label multiset)
    sql["kg_wl_colors"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # domain/range induction: majority subject class per predicate
    # (ties to smallest class), entity-vs-literal majority object kind
    sql["kg_domain_range"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

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
    sql["kg_node2vec_walks"] = f"""
        WITH RECURSIVE {base},
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
    """

    # entity summarization: exact-df ranking (ln(N/df) descending
    # without the float), lexicographic tie-breaks
    sql["kg_entity_summary"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # SCD2 attribute history: per-day max-obj state, change points by
    # lag, interval ends by lead (same md5 ingest clock as asof_state)
    sql["kg_attr_history"] = f"""
        WITH RECURSIVE {base},
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
    """

    # AMIE propagation rules: per attribute predicate, exact body /
    # support / PCA counts over the symmetrized relation
    rule_ctes, rule_arms = [], []
    for tag, p in (("col", "hasColor"), ("mat", "hasMaterial"),
                   ("sty", "hasStyle")):
        rule_ctes.append(f"""
        b{tag} AS (SELECT DISTINCT r.x, r.y, t.v FROM rel r
                   JOIN (SELECT subj AS x, obj AS v FROM tri
                         WHERE pred = '{p}') t ON t.x = r.x),
        p{tag} AS (SELECT DISTINCT subj AS y, obj AS v FROM tri
                   WHERE pred = '{p}'),
        a{tag} AS (SELECT DISTINCT subj AS y FROM tri
                   WHERE pred = '{p}'),
        m{tag} AS (SELECT count(*) AS n_body,
                          sum(CASE WHEN p.v IS NOT NULL
                                   THEN 1 ELSE 0 END)::BIGINT AS n_pos,
                          sum(CASE WHEN a.y IS NOT NULL
                                   THEN 1 ELSE 0 END)::BIGINT AS n_pca
                   FROM b{tag}
                   LEFT JOIN p{tag} p
                     ON p.y = b{tag}.y AND p.v = b{tag}.v
                   LEFT JOIN a{tag} a ON a.y = b{tag}.y)""")
        rule_arms.append(
            f"SELECT '{p}(x,v) & complements(x,y) => {p}(y,v)' "
            f"AS rule, n_body, n_pos, n_pca FROM m{tag}")
    rule_ctes_sql = ",".join(rule_ctes)
    rule_union = " UNION ALL ".join(rule_arms)
    sql["kg_rule_mining"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # Neo4j admin-import export: node rows from the deduped node
    # table, rel rows straight from the aggregated edges
    sql["kg_neo4j_export"] = f"""
        WITH RECURSIVE {base}, {nodes_cte}
        SELECT 'node' AS kind, product_id AS id, type AS label,
               NULL::VARCHAR AS start_id, NULL::VARCHAR AS end_id,
               NULL::VARCHAR AS rel_type, NULL::BIGINT AS weight,
               color
        FROM nodes
        UNION ALL
        SELECT 'rel', NULL, NULL, src, dst, rel_type,
               weight::BIGINT, NULL
        FROM edges
    """

    # N-Triples dump: IRI object for entity relations, quoted
    # literal otherwise
    sql["kg_ntriples"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte}
        SELECT '<urn:fkg:' || subj || '> <urn:fkg:' || pred || '> '
               || CASE WHEN pred = 'complements'
                       THEN '<urn:fkg:' || obj || '>'
                       ELSE '"' || obj || '"' END
               || ' .' AS ntriple
        FROM tri
    """

    # association rules: entity-keyed co-assertion self-join, exact
    # counts, lift against the distinct asserting-entity total
    sql["kg_attr_association"] = f"""
        WITH RECURSIVE {base}, {text_triples_cte}, {tri_cte},
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
    """

    # source-reliability audit: claims vs round-1 majority consensus
    sql["kg_source_reliability"] = f"""
        WITH RECURSIVE {base},
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
    """

    # RDF-star statement annotations: one provenance rollup per
    # asserted attribute triple (same md5 day/source derivations)
    sql["kg_rdfstar_annotations"] = f"""
        WITH RECURSIVE {base},
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
    """
    return sql
