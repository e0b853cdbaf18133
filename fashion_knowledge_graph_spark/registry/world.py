"""The KG fixture world: a deterministic synthetic catalog plus
interleaved docs derived from the driver's documents table (no
external data), run through the full pipeline.

The world is MATERIALIZED to a directory keyed on the package's code
(``session.package_sources``) and the sf directory, so the DuckDB
oracles can replay the relational stages (linking→edges→triples→CC→
queries) in ANSI SQL against the same parquet inputs, and every
process of one code version reuses one build.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.registry.common import _load
from fashion_knowledge_graph_spark.session import get_spark, package_sources

_KG_CACHE: dict[str, dict] = {}
_KG_N_PRODUCTS = 150
_KG_TABLES = ("linked", "canonical", "edges", "triples", "nodes")


def _kg_paths(sf_dir: str) -> dict[str, str]:
    # keyed on the code: a change to it builds a new world
    fix_dir = os.path.join(
        tempfile.gettempdir(),
        f"fkg_fixtures_p{_KG_N_PRODUCTS}_{package_sources()[0][:12]}_"
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


def _build_once(fix_dir: str, done: str, build):
    """``build()`` unless the ``done`` marker exists; None if it does.
    An exclusive flock on ``<fix_dir>.lock`` is held from the check
    through the build (which writes the marker last), so of several
    processes or threads asking for one world, one builds it and the
    others wait and then read it."""
    if os.path.exists(done):
        return None
    with open(fix_dir + ".lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)        # released on close
        if os.path.exists(done):
            return None
        return build()


def _build_world(spark: SparkSession, sf_dir: str, p: dict, pipe) -> dict:
    """Write the fixtures, run the full pipeline and materialize every
    oracle input; the ``done`` marker comes last."""
    from fashion_knowledge_graph_spark import datagen
    from fashion_knowledge_graph_spark.functions.embeddings import (
        clip_text_embed_udf,
        text_embed_udf,
    )
    from fashion_knowledge_graph_spark.operators.mentions import (
        image_mentions,
        image_mentions_pregate,
    )
    from fashion_knowledge_graph_spark.sources.interleave import interleaved_docs

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
    shutil.rmtree(p["wh"], ignore_errors=True)
    interleaved_docs(_load(spark, sf_dir, "documents"),
                     n_entities=_KG_N_PRODUCTS) \
        .write.mode("overwrite").parquet(p["docs"])
    docs = spark.read.parquet(p["docs"])
    out = pipe.build(docs, catalog, resume=False)
    # pre-gate mention rows: the relational replay surface for the
    # kernel's P3/P5/P6/P8+W1 gates (kg_mention_gates oracle)
    image_mentions_pregate(docs) \
        .write.mode("overwrite").parquet(p["pregate"])
    # outfit-query embeddings, materialized for the RRF oracle
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
    return out


def _kg_world(spark: SparkSession, sf_dir: str) -> dict:
    """Build (once per content version + sf_dir, across processes) the
    KG fixture world, run the full pipeline, materialize every oracle
    input; returns the tables."""
    if sf_dir in _KG_CACHE:
        return _KG_CACHE[sf_dir]
    from fashion_knowledge_graph_spark.plans.pipeline import KGPipeline

    p = _kg_paths(sf_dir)
    pipe = KGPipeline(warehouse=p["wh"])
    out = _build_once(p["fix"], p["done"],
                      lambda: _build_world(spark, sf_dir, p, pipe))
    if out is None:
        out = {name: pipe.table(name).read(spark) for name in _KG_TABLES}
        pipe.table("processed_docs")      # register for lineage metrics
    out["docs"] = spark.read.parquet(p["docs"])
    out["catalog"] = spark.read.parquet(p["catalog"])
    out["__pipe"] = pipe
    _KG_CACHE[sf_dir] = out
    return out


def _kg_query_texts(spark, sf_dir: str):
    out = _kg_world(spark, sf_dir)      # ensure the world + paths exist
    del out
    return spark.createDataFrame(
        _kg_query_text_rows(_kg_paths(sf_dir)["catalog"]),
        "query_id string, text string")


def materialize(sf_dir: str) -> None:
    """Make sure the world of ``sf_dir`` is on disk, whatever order the
    driver calls queries and oracles in: the oracle inputs are produced
    by the Spark pipeline."""
    if os.path.exists(_kg_paths(sf_dir)["done"]):
        return
    spark = SparkSession.getActiveSession()
    own_session = spark is None
    if own_session:
        spark = get_spark("kg-oracle-materialize")
    _kg_world(spark, sf_dir)
    if own_session:
        # don't leave our throwaway session active (the caller's
        # later getOrCreate would silently inherit it), and drop
        # cached DataFrames bound to it — the world is on disk
        _KG_CACHE.pop(sf_dir, None)
        spark.stop()
