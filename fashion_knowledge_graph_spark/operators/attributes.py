"""Attribute → (subj, pred, obj) triple extraction.

Two channels:

1. ``attr_triples`` — unpivot the closed-vocabulary attribute struct
   of a linked garment mention into explicit triples. This is the
   Spark-native form of the reference storing GPT-4o attributes as
   node properties (src/engine/process_catalog.py:45-50; vocabulary
   src/utils/prompts.py:4-13).

2. ``lexicon_triples`` — scan free text for canonical-vocabulary
   surface forms (token + optional bigram equi-join against the
   broadcast taxonomy). Deterministic stand-in for LLM extraction
   over text spans; all JVM-side (split/explode/broadcast-join), no
   Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import taxonomy as tx

# attributes unpivoted into triples; multi-valued attrs explode
_SCALAR_PREDS = [(a, tx.PREDICATES[a]) for a in tx.SCALAR_ATTRS]
_MULTI_PREDS = [(a, tx.PREDICATES[a]) for a in tx.MULTI_ATTRS]


def attr_triples(linked: DataFrame, subj_col: str = "product_id") -> DataFrame:
    """linked mentions (subj, attrs struct, doc_id, span_idx, score)
    → triples (subj, pred, obj, doc_id, span_idx, score).

    One JVM-side stack: build array<struct<pred,obj>> per row with
    scalar preds + exploded multi-valued preds, then a single explode.
    """
    def _to_struct(pred):
        # NB: must be a 1-arg lambda — F.transform passes the element
        # index to 2-arg callables (default args count toward arity)
        return lambda v: F.struct(F.lit(pred).alias("pred"), v.alias("obj"))

    pairs = []
    for attr, pred in _SCALAR_PREDS:
        pairs.append(F.struct(
            F.lit(pred).alias("pred"),
            F.col(f"attrs.{attr}").alias("obj")))
    arr = F.array(*pairs)
    for attr, pred in _MULTI_PREDS:
        arr = F.concat(arr, F.transform(
            F.coalesce(F.col(f"attrs.{attr}"), F.array()),
            _to_struct(pred)))
    out = linked.select(
        F.col(subj_col).alias("subj"), "doc_id", "span_idx",
        "score",
        F.explode(arr).alias("po"),
    )
    return out.select(
        "subj", F.col("po.pred").alias("pred"), F.col("po.obj").alias("obj"),
        "doc_id", "span_idx", "score",
    ).filter(F.col("obj").isNotNull())


def spec_attrs(df: DataFrame, subj_col: str) -> DataFrame:
    """Open-vocabulary spec-sheet attribute extraction (M7) — the
    Spark stand-in for the reference's GPT-4o-over-datasheet feature
    (src/inference/product_attributes.py:27-88, prompts
    src/utils/prompts.py:117-204): free-form product datasheets →
    (subj, attr, value) rows with OPEN attribute names (unlike the
    closed-vocabulary M2 path).

    Deterministic parser: split the sheet into lines, take the first
    ':' as the key/value separator, normalize keys (lower, trim,
    whitespace→'_'), trim values, drop malformed/empty lines. Pure
    Catalyst (split/explode/regexp) — codegen end to end, zero Python.
    """
    out = df.select(
        F.col(subj_col).alias("subj"),
        F.explode(F.split(F.col("spec_text"), "\n")).alias("line"))
    key = F.regexp_replace(
        F.trim(F.lower(F.regexp_extract("line", "^([^:]+):", 1))),
        r"\s+", "_")
    val = F.trim(F.regexp_extract("line", "^[^:]+:(.*)$", 1))
    return out.select("subj", key.alias("attr"), val.alias("value")) \
        .filter((F.col("attr") != "") & (F.col("value") != ""))


def lexicon_map_df(spark,
                   preds: dict[str, list[str]] | None = None) -> DataFrame:
    """(token, pred, obj) broadcast dim from the closed vocabulary."""
    rows = []
    preds = preds if preds is not None else tx.LEXICON_PREDS
    for attr, values in preds.items():
        pred = tx.PREDICATES[attr]
        for v in values:
            surfaces = {v}
            if "-" in v:
                surfaces.add(v.replace("-", " "))
            for s in surfaces:
                rows.append((s, pred, v))
    return spark.createDataFrame(rows, "token string, pred string, obj string")


def lexicon_triples(text_df: DataFrame, subj_col: str,
                    preds: dict[str, list[str]] | None = None,
                    keep: list[str] | None = None) -> DataFrame:
    """Free text → (subj, pred, obj) via broadcast equi-join of tokens
    against the taxonomy lexicon. Distinct per (subj, pred, obj[,keep]).

    The lexicon is ≤~100 rows → always broadcast; the token explode is
    linear in text size; the join is map-side. Scales to 100 TB with
    zero shuffles besides the final distinct.
    """
    spark = text_df.sparkSession
    preds_map = preds if preds is not None else tx.LEXICON_PREDS
    lex = F.broadcast(lexicon_map_df(spark, preds))
    keep = keep or []
    # Surface matching WITHOUT tokenization: pad the normalized text
    # with spaces and test ``contains(' <surface> ')`` per vocabulary
    # surface — equivalent to token/bigram equality because the
    # normalized text IS the space-joined token sequence. All string
    # ops → whole-stage codegen. (The tokenize-then-explode form went
    # through Catalyst higher-order functions, which are *interpreted*
    # per element — ~200M lambda evaluations at bench scale, 56 s;
    # this form is ~2 s.) Multi-token surfaces match naturally by
    # substring.
    surfaces = sorted({
        s for values in preds_map.values() for v in values
        for s in ({v, v.replace("-", " ")} if "-" in v else {v})})
    padded = F.concat(F.lit(" "),
                      F.regexp_replace(F.lower(F.col("text")),
                                       r"[^a-z0-9\-]+", " "),
                      F.lit(" "))
    # materialize the normalized string in its own projection: the 60
    # contains() below each reference it, and inlining would evaluate
    # the regexp once PER SURFACE per row (CollapseProject keeps the
    # boundary because a non-cheap expr is multiply referenced)
    padded_df = text_df.select(
        F.col(subj_col).alias("subj"), *keep, padded.alias("__padded"))
    matched = F.array_compact(F.array(*[
        F.when(F.col("__padded").contains(f" {s} "), F.lit(s))
        for s in surfaces]))
    toks = padded_df.select(
        "subj", *keep, F.explode(matched).alias("token"))
    out = toks.join(lex, "token").select("subj", "pred", "obj", *keep)
    return out.distinct()


def open_ie_triples(docs: DataFrame) -> DataFrame:
    """Open-IE-lite: bind attribute words to a SPAN-LEVEL item
    instance instead of the whole document.

    ``lexicon_triples`` attributes every vocabulary hit to the doc —
    correct for doc-level predicates but coarse when one document
    describes several items. Here each text span becomes a candidate
    item instance (``doc_id:md5(text)`` — content-addressed, so
    identical spans collapse identically everywhere); a span is
    accepted as an instance iff it names EXACTLY ONE garment type
    (the reference's closed `type` vocabulary,
    src/utils/prompts.py:4), and then every color/material/style hit
    in that span attaches to the instance, plus the typing triple
    itself.

    Plan shape: the same zero-shuffle codegen scan as
    ``lexicon_triples`` (padded-contains against the broadcast
    lexicon), one (inst)-keyed aggregation for the exactly-one-type
    gate, one broadcast-able semi-join back. No Python, no
    re-tokenization pass.
    """
    from .mentions import text_mentions

    t = text_mentions(docs).select(
        F.concat(F.col("doc_id"), F.lit(":"),
                 F.md5(F.col("text"))).alias("inst"),
        "doc_id", "text")
    preds = dict(tx.LEXICON_PREDS)
    preds["type"] = tx.TYPES
    # lexicon_triples exports the subject column as "subj"
    hits = lexicon_triples(t, "inst", preds=preds, keep=["doc_id"])
    ok = (hits.filter(F.col("pred") == "type")
          .groupBy("subj")
          .agg(F.countDistinct("obj").alias("n_types"))
          .filter(F.col("n_types") == 1)
          .select("subj"))
    return hits.join(ok, "subj").select("subj", "pred", "obj", "doc_id")


def link_open_ie(instances: DataFrame, catalog: DataFrame) -> DataFrame:
    """Ground open-IE span instances to catalog entities by attribute
    compatibility — the relational twin of the reference's
    metadata-filtered vector queries (type/gender `$in` filters,
    process_social_media_images.py:78-82): candidates must match on
    (type, color) exactly; ties are broken by material/style overlap,
    then product_id.

    Plan: one aggregation pivots the instance triples to typed rows
    (subj-keyed, partial-agg'd); the candidate join is a plain
    (type, color) equi-join — composite key keeps head-color skew an
    order of magnitude below a color-only key, and AQE's skew split
    covers the rest; overlap scores are array_intersect expressions in
    the join projection (no extra shuffle); top-1 per instance via one
    window. Emits (subj, product_id, score).
    """
    inst = (instances.groupBy("subj").agg(
        F.max(F.when(F.col("pred") == "type", F.col("obj")))
        .alias("i_type"),
        F.collect_set(F.when(F.col("pred") == "hasColor", F.col("obj")))
        .alias("i_colors"),
        F.collect_set(F.when(F.col("pred") == "hasMaterial",
                             F.col("obj"))).alias("i_materials"),
        F.collect_set(F.when(F.col("pred") == "hasStyle", F.col("obj")))
        .alias("i_styles")))
    cand = (inst.select("subj", "i_type", "i_materials", "i_styles",
                        F.explode("i_colors").alias("i_color"))
            .join(catalog.select("product_id", "type", "color",
                                 "material", "style"),
                  on=[F.col("i_type") == F.col("type"),
                      F.col("i_color") == F.col("color")])
            .select("subj", "product_id",
                    (F.size(F.array_intersect(
                        F.col("material"), F.col("i_materials")))
                     + F.size(F.array_intersect(
                         F.col("style"), F.col("i_styles"))))
                    .alias("score")))
    from .topk import grouped_top_k
    return grouped_top_k(cand, ["subj"], [F.desc("score")], 1,
                         tie_breaks=[F.asc("product_id")]) \
        .select("subj", "product_id", "score")
