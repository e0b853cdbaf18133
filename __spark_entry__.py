"""Driver contract for the spark-graft builder (PySpark target).

``entry``       — flagship: full KG construction over interleaved docs
                  derived from the sf0.001 ``documents`` table.
``queries``     — every registered query (SURVEY.md §2 + training-data
                  ops); each callable is (spark, sf_dir) → DataFrame.
``oracle_sql``  — DuckDB-equivalent ANSI SQL for EVERY query.
``_kg_paths``   — where the KG fixture world of an sf directory lives.

The queries and their oracles are declared together, one decorated
function each, in ``fashion_knowledge_graph_spark/registry/``; this
module only re-exports them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from fashion_knowledge_graph_spark.registry.world import _kg_paths  # noqa: F401


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG construction (mention detection → linking →
    triples + co-occurrence edges → canonicalization) over interleaved
    docs built from sf0.001 documents."""
    from fashion_knowledge_graph_spark.registry.world import _kg_world

    out = _kg_world(spark, "/root/testdata/sf0.001")
    return out["triples"].select("subj", "pred", "obj", "score")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from fashion_knowledge_graph_spark import registry

    return registry.queries()


def oracle_sql() -> dict[str, str]:
    from fashion_knowledge_graph_spark import registry

    return registry.oracle_sql()
