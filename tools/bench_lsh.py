"""LSH-linking benchmark: the big-catalog path (SURVEY V3 at 1M+).

Builds a large synthetic catalog (datagen, deterministic), links the
sf0.1-derived mention stream against it with the LSH-blocked join,
and reports throughput + recall vs a distributed exact join on a
sample. Usage:

    python tools/bench_lsh.py [n_products] [replicate]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_products = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 40

    import bench
    from fashion_knowledge_graph_spark import datagen
    from fashion_knowledge_graph_spark.operators import linking as lk
    from fashion_knowledge_graph_spark.operators import mentions as mn
    from fashion_knowledge_graph_spark.session import get_spark, package_sources

    spark = get_spark("bench-lsh", executors=4, cores_per_executor=4,
                      executor_mem_mb=12288)

    base = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    cat_dir = os.path.join(
        base, f"fkg_bigcat_{n_products}_{package_sources()[0][:8]}")
    if not os.path.exists(os.path.join(cat_dir, "catalog.parquet")):
        t0 = time.time()
        if n_products <= 300_000:
            datagen.write_fixtures(cat_dir, n_docs=1,
                                   n_products=n_products, seed=42)
        else:
            # 1M+ catalogs: generate DISTRIBUTED — the pandas
            # generator's single-process MLP embedding pass is ~2
            # TFLOP at 1M rows (>15 min); the same kernels as Spark
            # UDFs do it in minutes across the cluster. Linking needs
            # (product_id, type, color, gender, category, embedding).
            from pyspark.sql import functions as F

            from fashion_knowledge_graph_spark.datagen import (
                TYPE_TO_CATEGORY,
            )
            from fashion_knowledge_graph_spark.functions.embeddings import (
                attrs_udf,
                image_embed_udf,
            )

            cat_map = F.create_map(
                *[F.lit(x) for kv in TYPE_TO_CATEGORY.items() for x in kv])
            rows = spark.range(n_products).repartition(64).select(
                F.format_string("p%07d", F.col("id")).alias("product_id"),
                F.format_string("img://ent%08d", F.col("id"))
                .alias("image_path"))
            big = rows.select(
                "product_id", "image_path",
                attrs_udf("image_path").alias("attrs"),
                image_embed_udf("image_path").alias("embedding"))
            big = big.select(
                "product_id", "image_path",
                cat_map[F.col("attrs.type")].alias("category"),
                F.col("attrs.type").alias("type"),
                F.col("attrs.color").alias("color"),
                F.col("attrs.gender").alias("gender"),
                "embedding")
            big.write.mode("overwrite").parquet(
                os.path.join(cat_dir, "catalog.parquet"))
        print(f"catalog gen: {time.time()-t0:.1f}s", file=sys.stderr)
    catalog = spark.read.parquet(os.path.join(cat_dir, "catalog.parquet"))

    docs_dir, _ = bench._prepare_input(
        spark, "/root/testdata/sf0.1", replicate)
    docs = spark.read.parquet(docs_dir)
    # persist detected mentions: the linking join consumes the mention
    # side three times (two banded scans + vector re-join); in the real
    # pipeline this is the written `linked`-stage input snapshot
    mentions = mn.image_mentions(docs).persist()
    n_mentions = mentions.count()          # also warms the UDF workers

    t0 = time.time()
    linked = lk.link_lsh(mentions, catalog)
    n_linked = linked.count()
    lsh_sec = time.time() - t0

    # recall vs exact on a deterministic sample of docs; NB limit() is
    # plan-unstable across actions — hash-sample instead
    from pyspark.sql import functions as F
    sample = docs.filter(F.crc32(F.col("doc_id")) % 100 == 0)
    sm = mn.image_mentions(sample)
    # exact ground truth computed DISTRIBUTED at every catalog size (a
    # driver-packed catalog is ~12 GB of boxed Rows at 1M×512f): shuffle
    # join on the metadata-filter keys, Arrow dot kernel, same W5 gate
    cand = lk._mention_side(sm).join(lk._catalog_side(catalog),
                                     lk._filter_cond(), "inner")
    scored = lk._dot_arrow(cand, "embedding", "c_embedding", "score") \
        .select("doc_id", "span_idx", "product_id", "score")
    exact_df = lk._top1_then_threshold(
        scored, ["doc_id", "span_idx"], 0.7)
    exact = {(r["doc_id"], r["span_idx"]): r["product_id"]
             for r in exact_df.collect()}
    approx = {(r["doc_id"], r["span_idx"]): r["product_id"]
              for r in lk.link_lsh(sm, catalog).collect()}
    hits = sum(1 for k, v in exact.items() if approx.get(k) == v)
    recall = hits / max(len(exact), 1)

    import json
    print(json.dumps({
        "metric": "lsh_link_throughput", "unit": "mentions/sec",
        "value": round(n_mentions / lsh_sec, 1),
        "n_mentions": n_mentions, "n_linked": n_linked,
        "catalog_size": n_products, "wall_s": round(lsh_sec, 2),
        "recall_vs_exact": round(recall, 4),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
