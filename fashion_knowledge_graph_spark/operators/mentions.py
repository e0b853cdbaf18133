"""Mention detection over interleaved documents.

Replaces the reference's per-image SegFormer loop
(src/engine/process_social_media_images.py:57-64 →
src/engine/image_processor.py:89-148) with one declarative lineage:
scan → posexplode(spans) → one fused ``mapInArrow`` kernel
(``detect_batch``: segment, attributes, embedding and the reference's
gates per record batch). No shuffle — this whole stage is map-side
and scales linearly with input splits. The KG build runs the same
kernel fused with linking (``linking.detect_and_link_fused``);
``image_mentions_udf_chain``, the three chained pandas UDFs of the
reference's decomposition, is kept only as the parity tests'
reference.

Per-row invariant (input_hint): span order is carried as ``span_idx``
from ``posexplode`` and kept on every downstream row, so the original
span sequence (kind, text, media_ref, order) is reconstructible
exactly (verified in tests/test_mentions.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import taxonomy as tx
from ..functions.embeddings import (
    ATTR_SCHEMA,
    attrs_udf,
    image_embed_udf,
    segment_udf,
)


def explode_spans(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) → one row per span, order-preserving.

    posexplode keeps the array position → ``span_idx``; reassembly =
    groupBy(doc_id) + sort_array(collect_list(struct(span_idx, ...))).
    """
    return docs.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "doc_id", "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def image_mentions_udf_chain(docs: DataFrame) -> DataFrame:
    """Mention detection as three chained pandas UDFs — the
    reference-shaped decomposition (segment → attributes → embed).
    Kept as the semantic spec for the fused kernel's parity test; the
    production path is ``image_mentions`` below.
    """
    spans = explode_spans(docs).filter(
        F.col("kind") == "image_ref").filter(F.col("media_ref").isNotNull())
    seg = spans.withColumn("segment", segment_udf("media_ref"))
    seg = seg.select("*", "segment.label", "segment.area").drop("segment")
    seg = seg.filter(
        (F.col("label") != "Background") & (F.col("area") >= tx.MIN_AREA))
    # attrs + embedding evaluated in ONE projection, filter applied on
    # the materialized column afterwards: filtering between the two
    # withColumns makes Catalyst schedule attrs_udf in two separate
    # ArrowEvalPython nodes (once for the predicate, once for the
    # output) — the most expensive UDF ran twice (seen in .explain)
    att = seg.select("*", attrs_udf("media_ref").alias("attrs"),
                     image_embed_udf("media_ref").alias("embedding"))
    return att.filter(F.col("attrs.type").isNotNull())


def image_mentions(docs: DataFrame) -> DataFrame:
    """Detected garment mentions from media spans, with attributes and
    embeddings — the left side of the entity-linking join.

    ONE fused ``mapInArrow`` kernel instead of three chained pandas
    UDFs: a chained-UDF plan pays an Arrow JVM↔Python round trip per
    UDF, and returning ``array<float>`` through pandas boxes one
    ndarray object per row per batch — measured as the dominant cost
    of the stage (tasks active but CPUs idle on serialization). The
    fused kernel reads the record batch once, computes
    segment/attrs/embedding with the same vectorized stand-ins, and
    emits the embedding column as an Arrow ListArray built from one
    flat float32 buffer (zero boxing).

    Filters reproduce the reference gates (applied inside the kernel by
    ``detect_batch``, same predicates):
    - Background class skipped (image_processor.py:114-115, P6)
    - area >= 1028      (image_processor.py:117-119, P5)
    - missing ``type`` skipped
      (process_social_media_images.py:74-76, P8)
    """
    import numpy as np
    import pyarrow as pa

    spans = explode_spans(docs).filter(
        F.col("kind") == "image_ref").filter(F.col("media_ref").isNotNull())

    out_schema = T.StructType(spans.schema.fields + [
        T.StructField("label", T.StringType()),
        T.StructField("area", T.LongType()),
        T.StructField("attrs", ATTR_SCHEMA),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    img_dim = tx.IMG_DIM

    def kernel(batches):
        for rb in batches:
            det = detect_batch(rb.column("media_ref"))
            if det is None:
                continue
            idx, labels, areas, attrs, vecs = det
            n = len(idx)
            emb_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * img_dim, img_dim,
                                   dtype=np.int32)),
                pa.array(vecs.reshape(-1)))
            yield pa.RecordBatch.from_arrays(
                [*rb.take(pa.array(idx)).columns,
                 pa.array(labels.astype("U")), pa.array(areas),
                 attrs_array(attrs), emb_arr],
                names=out_schema.names)

    return spans.mapInArrow(kernel, out_schema)


def detect_batch(media_refs):
    """The reference's detect step over one Arrow batch of media refs —
    the ONE copy both mention kernels (``image_mentions`` and
    ``linking.detect_and_link_fused``) run:

    - segment label/area; Background skipped (image_processor.py:
      114-115, P6) and ``area >= 1028`` kept (:117-119, P5)
    - attributes; missing ``type`` skipped
      (process_social_media_images.py:74-76, P8)
    - 512-d embedding of the survivors only

    Returns ``(idx, labels, areas, attrs, vecs)`` for the kept rows —
    ``idx`` indexes the batch, ``attrs`` maps each ATTR_SCHEMA field to
    a per-row sequence, ``vecs`` is (n, IMG_DIM) float32 — or None when
    no row survives."""
    import numpy as np

    from ..datagen import base_attrs, content_embed
    from ..functions.hashing import segment_labels_areas

    refs = np.asarray(media_refs.to_pylist(), dtype="U")
    if len(refs) == 0:
        return None
    labels, areas = segment_labels_areas(refs)
    idx = np.nonzero((labels != "Background") & (areas >= tx.MIN_AREA))[0]
    if len(idx) == 0:
        return None
    attrs = base_attrs(refs[idx])
    typed = [i for i, t in enumerate(attrs["type"]) if t is not None]
    if len(typed) < len(idx):
        if not typed:
            return None
        idx = idx[typed]
        attrs = {k: [v[i] for i in typed] for k, v in attrs.items()}
    return idx, labels[idx], areas[idx], attrs, content_embed(refs[idx])


def attrs_array(attrs: dict, rows=None):
    """``detect_batch`` attrs → the ATTR_SCHEMA Arrow struct column,
    optionally restricted to positions ``rows``."""
    import pyarrow as pa

    cols = []
    for f in ATTR_SCHEMA.fields:
        vals = attrs[f.name]
        cols.append(pa.array(
            list(vals) if rows is None else [vals[i] for i in rows],
            type=pa.list_(pa.string())
            if isinstance(f.dataType, T.ArrayType) else pa.string()))
    return pa.StructArray.from_arrays(cols, ATTR_SCHEMA.names)


def image_mentions_pregate(docs: DataFrame) -> DataFrame:
    """Every image span's segmentation output BEFORE the reference's
    gates: (doc_id, span_idx, media_ref, label, area, type).

    Exists so the gate semantics (P3/P5/P6/P8 + W1, applied inside the
    fused production kernel) can be verified RELATIONALLY: materialize
    these rows, then ``mention_gates`` below — or an ANSI-SQL oracle —
    applies the same predicates over them (the driver's
    ``kg_mention_gates`` query). No gating happens here."""
    import numpy as np
    import pyarrow as pa

    spans = explode_spans(docs).filter(
        F.col("kind") == "image_ref").filter(F.col("media_ref").isNotNull())
    out_schema = T.StructType([
        spans.schema["doc_id"], spans.schema["span_idx"],
        spans.schema["media_ref"],
        T.StructField("label", T.StringType()),
        T.StructField("area", T.LongType()),
        T.StructField("type", T.StringType()),
    ])

    def kernel(batches):
        from ..datagen import base_attrs
        from ..functions.hashing import segment_labels_areas

        for rb in batches:
            refs = np.asarray(rb.column("media_ref").to_pylist(), dtype="U")
            if len(refs) == 0:
                continue
            labels, areas = segment_labels_areas(refs)
            types = base_attrs(refs)["type"]
            yield pa.RecordBatch.from_arrays(
                [rb.column("doc_id"), rb.column("span_idx"),
                 rb.column("media_ref"),
                 pa.array(labels.astype("U")), pa.array(areas),
                 pa.array(list(types), type=pa.string())],
                names=["doc_id", "span_idx", "media_ref",
                       "label", "area", "type"])

    return spans.select("doc_id", "span_idx", "media_ref") \
        .mapInArrow(kernel, out_schema)


def mention_gates(pregate: DataFrame) -> DataFrame:
    """The reference's mention gates as declarative relational ops over
    pre-gate segmentation rows — P6 Background skip
    (image_processor.py:114-115), P5 ``area >= 1028``
    (image_processor.py:117-119), P3/P8 missing-type skip
    (process_social_media_images.py:74-76), then W1 single-product
    top-1-by-area per doc (image_processor.py:138-142).

    Semantically identical to the gating inside the fused kernel
    (pinned by tests); driver-verifiable against a SQL oracle."""
    from .. import taxonomy as taxo
    from .topk import grouped_top_k

    gated = pregate.filter(
        (F.col("label") != "Background")
        & (F.col("area") >= taxo.MIN_AREA)
        & F.col("type").isNotNull())
    return grouped_top_k(gated, ["doc_id"], [F.desc("area")], 1,
                         tie_breaks=[F.asc("span_idx")]) \
        .select("doc_id", "span_idx", "label", "area", "type")


def text_mentions(docs: DataFrame) -> DataFrame:
    """Text spans, order-preserved — feed of the lexicon/linking
    triple extractors (operators/attributes.py)."""
    return explode_spans(docs).filter(
        (F.col("kind") == "text") & F.col("text").isNotNull())


def reassemble_spans(spans: DataFrame) -> DataFrame:
    """Inverse of explode_spans — used by the round-trip invariant test."""
    return spans.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(
                "span_idx", "kind", "text", "media_ref", "offset"))),
            lambda s: F.struct(
                s["kind"].alias("kind"), s["text"].alias("text"),
                s["media_ref"].alias("media_ref"), s["offset"].alias("offset")),
        ).alias("spans")
    )
