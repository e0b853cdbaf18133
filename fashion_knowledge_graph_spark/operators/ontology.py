"""Ontology operators over the triple table: transitive closure,
RDFS-style entailment, SHACL-lite shape validation, symmetric closure.

The reference stores its vocabulary flat (node properties set from the
closed LLM vocabulary, /root/reference/src/utils/prompts.py:4-13) and
has no ontology layer; a production KG-construction pipeline needs one
— inferred class triples for rollup queries, shape reports for data
quality, symmetric completion for the `complements` relation the
reference writes in both directions imperatively
(/root/reference/src/engine/process_social_media_images.py:135-146).

Scale design: the class hierarchy is taxonomy-sized (a dimension, not
data — even a million-concept ontology is ~MBs), so its transitive
closure is computed with O(log depth) self-join rounds and then
BROADCAST against the triple stream: the 10^12-row side is touched by
exactly one map-side join, never shuffled. Shape validation is two
partial-agg'd aggregations over the triple stream; symmetric closure
is one anti-join on the (already co-partitioned) edge key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import taxonomy as tax


def hierarchy_df(spark) -> DataFrame:
    """The taxonomy subClassOf DAG as a (child, parent) DataFrame."""
    return spark.createDataFrame(tax.hierarchy_edges(),
                                 "child string, parent string")


def transitive_closure(edges: DataFrame) -> DataFrame:
    """All (descendant, ancestor, depth) pairs reachable through the
    DAG, depth = shortest path length.

    Path-doubling: after round r the closure holds every path of
    length <= 2^r, so 20 rounds cover depth ~1M — the number of
    *shuffle rounds* is logarithmic in ontology depth, which is what
    survives scale-up (naive frontier expansion is linear). The input
    is a dimension; each round's count() is a cheap fixpoint probe on
    a broadcast-sized frame, not a data-stream action.
    """
    # localCheckpoint each round: the doubling plan references the
    # previous round TWICE, so without truncation the logical plan
    # grows exponentially in rounds (and leaks into every downstream
    # consumer's plan). Dimension-sized data — the checkpoint is
    # pennies; same per-iteration pattern as graph.pagerank.
    closure = (edges.select("child",
                            "parent",
                            F.lit(1).alias("depth"))
               .distinct().localCheckpoint())
    n = closure.count()
    for _ in range(20):
        a, b = closure.alias("a"), closure.alias("b")
        doubled = (a.join(b, F.col("a.parent") == F.col("b.child"))
                   .select(F.col("a.child").alias("child"),
                           F.col("b.parent").alias("parent"),
                           (F.col("a.depth") + F.col("b.depth"))
                           .alias("depth")))
        closure = (closure.unionByName(doubled)
                   .groupBy("child", "parent")
                   .agg(F.min("depth").alias("depth"))
                   .localCheckpoint())
        m = closure.count()
        if m == n:       # no new reachable pair -> fixpoint
            break
        n = m
    return closure


def entail_ancestors(triples: DataFrame, closure: DataFrame) -> DataFrame:
    """RDFS-style entailment: for each triple whose predicate is in
    ``taxonomy.ENTAILED_PREDICATES`` and whose object is a hierarchy
    member, emit (subj, entailed_pred, ancestor) for every ancestor of
    the object.

    One broadcast join against the closure dim — the triple stream is
    never shuffled (the trailing distinct aggregates only the entailed
    rows, a vocabulary-bounded fraction of the input).
    """
    spark = triples.sparkSession
    pm = spark.createDataFrame(sorted(tax.ENTAILED_PREDICATES.items()),
                               "pred_in string, pred_out string")
    return (triples
            .join(F.broadcast(pm), triples["pred"] == pm["pred_in"])
            .join(F.broadcast(closure),
                  triples["obj"] == closure["child"])
            .select(triples["subj"],
                    pm["pred_out"].alias("pred"),
                    closure["parent"].alias("obj"))
            .distinct())


def shacl_report(triples: DataFrame, shapes: list[dict]) -> DataFrame:
    """SHACL-lite validation report, one row per shaped predicate.

    Each shape: ``{"pred": str, "functional": bool,
    "range": list[str] | None}``. Emits per predicate: distinct triple
    count, distinct subjects, subjects violating the functional
    constraint (>1 distinct object), and triples whose object falls
    outside the closed range. Ranges are vocabulary-sized and ride a
    broadcast join; the only wide operations are the two aggregations
    (both partial-agg'd), so the report costs two shuffles of
    (pred, subj)-cardinality data regardless of corpus size.
    """
    spark = triples.sparkSession
    shape_rows = [(s["pred"], bool(s["functional"]),
                   s.get("range") is not None) for s in shapes]
    sh = spark.createDataFrame(
        shape_rows, "pred string, functional boolean, has_range boolean")
    rng_rows = [(s["pred"], v) for s in shapes
                for v in (s.get("range") or [])]
    rng = spark.createDataFrame(
        rng_rows, "r_pred string, allowed string") \
        .withColumn("in_range", F.lit(True))

    t = (triples.select("subj", "pred", "obj").distinct()
         .join(F.broadcast(sh), "pred")    # keep only shaped predicates
         .join(F.broadcast(rng),
               on=[F.col("pred") == F.col("r_pred"),
                   F.col("obj") == F.col("allowed")],
               how="left")
         .select("pred", "subj", "obj",
                 "functional", "has_range", "in_range"))
    per_subj = (t.groupBy("pred", "subj")
                .agg(F.countDistinct("obj").alias("k"),
                     F.first("functional").alias("functional"),
                     F.sum(F.when(F.col("has_range")
                                  & F.col("in_range").isNull(), 1)
                           .otherwise(0)).alias("n_out_of_range")))
    return (per_subj.groupBy("pred")
            .agg(F.sum("k").alias("n_triples"),
                 F.count(F.lit(1)).alias("n_subjects"),
                 F.sum(F.when(F.col("functional") & (F.col("k") > 1), 1)
                       .otherwise(0)).alias("n_functional_violations"),
                 F.sum("n_out_of_range").alias("n_range_violations")))


def symmetric_closure(pairs: DataFrame) -> DataFrame:
    """Missing inverses of a symmetric relation: for every stored
    (a, b) emit (b, a) unless it is already stored. One anti-join on
    the pair key — the semantic completion of the reference's
    imperative both-directions edge write
    (process_social_media_images.py:135-146), expressed relationally
    so it holds under batch aggregation too.
    """
    fw = pairs.select(F.col("subj").alias("s"), F.col("obj").alias("d")) \
        .distinct()
    rev = fw.select(F.col("d").alias("s"), F.col("s").alias("d"))
    return (rev.join(fw, ["s", "d"], "left_anti")
            .select(F.col("s").alias("subj"), F.col("d").alias("obj")))


def kg_shapes() -> list[dict]:
    """The shape suite for this KG's predicates, derived from the same
    closed vocabularies the extractor emits (taxonomy.SCALAR_ATTRS /
    MULTI_ATTRS). Scalar attribute predicates are functional over
    catalog subjects; text-mention triples share the predicate but not
    the constraint (a document legitimately mentions many colors), so
    functional violations measure exactly the doc-subject rows —
    a real signal, not an artifact. `complements` has an open range.
    """
    shapes = []
    for attr, values in tax.SCALAR_ATTRS.items():
        shapes.append({"pred": tax.PREDICATES[attr], "functional": True,
                       "range": list(values)})
    for attr, values in tax.MULTI_ATTRS.items():
        shapes.append({"pred": tax.PREDICATES[attr], "functional": False,
                       "range": list(values)})
    shapes.append({"pred": "complements", "functional": False,
                   "range": None})
    return shapes


def domain_range_profile(triples: DataFrame) -> DataFrame:
    """Schema induction: per predicate, the majority subject class
    (domain), the majority object kind (entity reference vs literal),
    and their support — the RDFS domain/range axioms a KB curator
    would assert, inferred from the data instead of authored.

    One broadcast of the (subject, class) dimension against the
    distinct triple stream, then predicate-keyed rollups; the final
    argmax runs over (predicate x class) cells — schema-sized, so the
    tiny window sort there is free. Ties break to the
    lexicographically smallest class for determinism.
    """
    from pyspark.sql.window import Window

    t = (triples.filter(F.col("pred") != "type")
         .select("subj", "pred", "obj").distinct())
    ty = (triples.filter(F.col("pred") == "type")
          .select(F.col("subj").alias("_s"),
                  F.col("obj").alias("stype")).distinct())
    dom = (t.join(F.broadcast(ty), t["subj"] == ty["_s"])
           .groupBy("pred", "stype")
           .agg(F.countDistinct("subj").alias("n")))
    wd = Window.partitionBy("pred").orderBy(F.desc("n"),
                                            F.asc("stype"))
    dom_top = (dom.withColumn("rn", F.row_number().over(wd))
               .filter(F.col("rn") == 1)
               .select("pred", F.col("stype").alias("domain_class"),
                       F.col("n").alias("domain_support")))
    rng = (t.withColumn(
        "okind",
        F.when(F.col("obj").cast("string").rlike("^p[0-9]"),
               "entity").otherwise("literal"))
        .groupBy("pred")
        .agg(F.sum((F.col("okind") == "entity").cast("long"))
             .alias("n_entity_obj"),
             F.count(F.lit(1)).alias("n_triples"),
             F.countDistinct("obj").alias("n_distinct_obj")))
    return (dom_top.join(rng, "pred")
            .select("pred", "domain_class", "domain_support",
                    F.when(F.col("n_entity_obj") * 2
                           >= F.col("n_triples"), "entity")
                    .otherwise("literal").alias("range_kind"),
                    "n_distinct_obj", "n_triples"))


def entity_summary(triples: DataFrame, k: int = 3) -> DataFrame:
    """Per-entity top-k most informative facts (LinkSUM/FACES-lite):
    a fact's informativeness is the rarity of its (pred, obj) pair
    across entities, so ranking by EXACT document frequency ascending
    is equivalent to ln(N/df) descending with no float in the sort.
    (pred, obj) ties break lexicographically for determinism.

    Scale shape: one (pred, obj)-keyed df aggregation (fact-vocabulary
    sized), joined back on the same key, then a per-entity top-k whose
    window partition is one entity's facts — bounded by per-entity
    predicate fan-out, never corpus-sized.
    """
    from pyspark.sql.window import Window

    t = triples.select("subj", "pred", "obj").distinct()
    df_ = (t.groupBy("pred", "obj")
           .agg(F.countDistinct("subj").alias("df")))
    w = Window.partitionBy("subj").orderBy(
        F.asc("df"), F.asc("pred"), F.asc("obj"))
    return (t.join(df_, ["pred", "obj"])
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("subj", "rank", "pred", "obj", "df"))
