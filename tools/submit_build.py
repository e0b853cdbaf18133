"""Production spark-submit entry point for a full KG build.

Usage (the north-rule contract — package shipped via --py-files, any
master/cluster manager):

    python -c "from fashion_knowledge_graph_spark.session import \
               _package_zip; print(_package_zip())"   # -> pkg.zip
    spark-submit --py-files <pkg.zip> \
        [--master local-cluster[4,4,16384] \
         --conf spark.executor.memory=14g] \
        tools/submit_build.py \
        --docs /data/docs.parquet --catalog /data/catalog.parquet \
        --warehouse /data/kg_warehouse [--resume] [--n-entities 150]

Reads the interleaved-docs table (or a flat (doc_id, text) corpus,
auto-adapted through sources/interleave.py), runs the full build —
mention detection, entity linking, canonicalization, edges, triples,
nodes, per-partition lineage — and prints a one-line JSON summary.
Uses the session spark-submit provides (master/deploy-mode/memory are
CLI concerns, not code concerns); only falls back to a local builder
when run outside spark-submit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", required=True,
                    help="parquet: interleaved docs (doc_id, spans) or "
                         "a flat (doc_id, text) corpus")
    ap.add_argument("--catalog", required=True, help="catalog parquet")
    ap.add_argument("--warehouse", required=True,
                    help="output warehouse dir (snapshot tables)")
    ap.add_argument("--resume", action="store_true",
                    help="resume from the warehouse's last snapshots "
                         "(O(new) delta maintenance when possible)")
    ap.add_argument("--n-entities", type=int, default=150,
                    help="entity count used when adapting a flat corpus")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("fkg-build").getOrCreate()

    from fashion_knowledge_graph_spark.plans.pipeline import KGPipeline
    from fashion_knowledge_graph_spark.sources.interleave import (
        interleaved_docs,
    )

    docs = spark.read.parquet(args.docs)
    if "spans" not in docs.columns:
        docs = interleaved_docs(docs, n_entities=args.n_entities)
    catalog = spark.read.parquet(args.catalog)

    pipe = KGPipeline(warehouse=args.warehouse)
    t0 = time.time()
    out = pipe.build(docs, catalog, resume=args.resume)
    wall = time.time() - t0

    summary = {"wall_s": round(wall, 2)}
    for name in ("triples", "edges", "nodes", "canonical"):
        if name in out:
            summary[f"{name}_rows"] = out[name].count()
    summary["docs"] = docs.count()
    summary["docs_per_sec"] = round(summary["docs"] / wall, 2)
    print(json.dumps(summary), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
