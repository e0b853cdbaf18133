"""Build the interleaved-docs input (input_hint shape) from a plain
text corpus — all JVM-side expressions, no Python row work.

The driver's `documents` table is flat (doc_id, text, …). This adapter
re-expresses it as the Iceberg-style interleaved layout the KG
pipeline consumes: each document becomes
``(doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>)``
with its text split into sentence-ish chunks and 1–3 deterministic
``media_ref`` spans pointing at synthetic catalog entities (hash of
doc_id picks the entity, so linking has real co-occurrence structure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _span(kind, text, media_ref, offset):
    return F.struct(
        kind.alias("kind"), text.alias("text"),
        media_ref.alias("media_ref"), offset.cast("int").alias("offset"))


def interleaved_docs(documents: DataFrame, n_entities: int) -> DataFrame:
    """documents(doc_id, text) → (doc_id:string, spans) interleaved.

    Layout per doc: [image_ref, text half 1, image_ref?, text half 2],
    media refs = social-media variants (#s*) of entity k where
    k = xxhash64(doc_id, j) mod n_entities — matching datagen's
    ``img://entNNNNNNNN`` content keys so attributes/embeddings are
    consistent across the whole fixture world.
    """
    did = F.col("doc_id").cast("string")
    txt = F.coalesce(F.col("text"), F.lit(""))
    half = (F.length(txt) / 2).cast("int")
    t1 = txt.substr(F.lit(1), half)
    t2 = txt.substr(half + 1, F.length(txt))

    def ref(j):
        ent = F.pmod(F.xxhash64(did, F.lit(j)), F.lit(n_entities))
        var = F.pmod(F.xxhash64(did, F.lit(j + 100)), F.lit(4))
        return F.format_string("img://ent%08d#s%d", ent, var)

    n_img = (F.pmod(F.xxhash64(did), F.lit(2)) + 2).cast("int")  # 2..3
    spans = F.array(
        _span(F.lit("image_ref"), F.lit(None).cast("string"), ref(0), F.lit(0)),
        _span(F.lit("text"), t1, F.lit(None).cast("string"), F.lit(64)),
        _span(F.lit("image_ref"), F.lit(None).cast("string"), ref(1),
              F.lit(64) + half),
        _span(F.lit("text"), t2, F.lit(None).cast("string"),
              F.lit(128) + half),
        _span(F.lit("image_ref"), F.lit(None).cast("string"), ref(2),
              F.lit(128) + F.length(txt)),
    )
    # drop the optional third image span for docs with n_img == 2,
    # keeping offsets strictly increasing either way
    spans = F.when(n_img >= 3, spans).otherwise(F.slice(spans, 1, 4))
    return documents.select(did.alias("doc_id"), spans.alias("spans"))
