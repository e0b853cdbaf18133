"""Entity linking: image mentions → catalog products.

Reproduces the reference's Pinecone query semantics
(src/database/vector_database.py:127-191 called from
src/engine/process_social_media_images.py:78-99):

- metadata filters: ``type`` equality, ``gender IN ('unisex', g)``,
  ``color`` equality (process_social_media_images.py:78-82)
- cosine metric over L2-normalized vectors (setup_pinecone.py:37)
- top_k=5, then **only the first match** is threshold-checked at
  ``score >= 0.7`` (W5 in SURVEY §2.E: top-1-then-threshold, NOT
  threshold-then-top-1 — every path here preserves this order)

``pack_catalog`` is the one driver-fit decision: a byte-budget gate
(``fits_driver_broadcast``: estimated packed bytes against
``BROADCAST_BUDGET_MB``), then the pack or ``None``, which
``link_mentions`` (the one entry point) and canonicalization take:

- ``detect_and_link_fused`` — a pack: it is broadcast, and ONE
  ``mapInArrow`` kernel detects, embeds and links each batch (a
  matmul per metadata group). Exact, zero shuffles, and the 512-d
  embeddings never cross the Arrow/JVM boundary.
- ``link_lsh`` — ``None``, a catalog too big or too wide: both sides get
  sign-LSH band signatures (``NBANDS`` = 16 bands × 16 bits, from
  ``NBITS`` = 256 deterministic hyperplanes); candidates = equi-join
  on (type, color, band_idx, band_sig) — the metadata filters *are*
  part of the blocking key, so hot attribute values ("black") are
  already split 65536-ways per band, and AQE skew join handles
  residual imbalance. Exact cosine re-rank on candidates. Recall for
  near-duplicate photos (cosine ≥ 0.98) ≈ 0.999; verified ≥ 0.95 vs
  brute force in tests.

``link_exact`` (broadcast join, exact cosine, window top-1) is the
relational reference both paths are tested against; no build path
selects it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import taxonomy as tx
from ..functions.embeddings import cosine_col, make_signature_udf
from . import mentions as mn

# 16 bands × 16 bits: at a 200k catalog, 8-bit signatures left ~27
# random collisions per (band, hot type×color) block — ~400M candidate
# rows. 16-bit signatures cut random collisions 256× while keeping
# recall ≈0.999 for near-duplicate matches (cosine ≥ 0.98).
NBITS = 256
NBANDS = 16


def _top1_then_threshold(scored: DataFrame, query_keys: list[str],
                         threshold: float) -> DataFrame:
    """W5 gate: rank all candidates, keep rank-1, then threshold.

    The reference's top_k=5 only bounds the candidates it ranks before
    checking rank 1, so it cannot change the result and is not applied.
    Ties broken by product_id asc (Pinecone's ordering is unspecified;
    this makes results deterministic and is pinned by the oracle).
    """
    w = Window.partitionBy(*query_keys).orderBy(
        F.desc("score"), F.asc("product_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return (ranked
            .filter((F.col("rank") == 1) & (F.col("score") >= threshold))
            .drop("rank"))


def _catalog_side(catalog: DataFrame) -> DataFrame:
    return catalog.select(
        "product_id",
        F.col("type").alias("c_type"), F.col("color").alias("c_color"),
        F.col("gender").alias("c_gender"),
        F.col("category").alias("c_category"),
        F.col("embedding").alias("c_embedding"))


def _mention_side(mentions: DataFrame) -> DataFrame:
    return mentions.select(
        "doc_id", "span_idx", "attrs", "embedding",
        F.col("attrs.type").alias("m_type"),
        F.col("attrs.color").alias("m_color"),
        F.col("attrs.gender").alias("m_gender"))


def _filter_cond():
    """Metadata filters (process_social_media_images.py:78-82): type
    equality, color equality, gender ∈ {unisex, mention gender}."""
    return ((F.col("m_type") == F.col("c_type"))
            & (F.col("m_color") == F.col("c_color"))
            & ((F.col("c_gender") == "unisex")
               | (F.col("c_gender") == F.col("m_gender"))))


def link_exact(mentions: DataFrame, catalog: DataFrame,
               threshold: float = tx.LINK_THRESHOLD) -> DataFrame:
    """Relational exact reference: broadcast join on the metadata
    filters, exact cosine, window top-1-then-threshold. The fused and
    LSH paths are tested against it.

    The cosine is computed map-side immediately after the broadcast
    join and BOTH embedding columns are projected away before the
    top-k window: the window is a shuffle, and shipping two 512-d
    vectors per candidate through it is ~30× the bytes of the scored
    row (measured: the shuffle I/O inverted core-count scaling)."""
    m = _mention_side(mentions)
    c = F.broadcast(_catalog_side(catalog))
    cand = m.join(c, _filter_cond(), "inner")
    scored = cand.withColumn("score", cosine_col("embedding", "c_embedding")) \
        .select("doc_id", "span_idx", "product_id",
                F.col("c_category").alias("category"), "attrs", "score")
    return _top1_then_threshold(scored, ["doc_id", "span_idx"], threshold)


def link_lsh(mentions: DataFrame, catalog: DataFrame,
             threshold: float = tx.LINK_THRESHOLD) -> DataFrame:
    """LSH-blocked variant — the plan that survives a 1M+ catalog.

    Two-phase, narrow-row design:

    1. **Candidate generation**: both sides banded (``NBANDS``×
       replication) but carrying ONLY ids + blocking keys — all
       equalities in the ON clause so (band, bsig, type, color) are
       hash-join keys (a post-join filter would key on band/bsig alone
       → candidate explosion on hot bands). Vectors must NOT ride
       through this join: the catalog side is replicated NBANDS×, and
       512-d embeddings × replication OOM'd 8 GB executors at a 200k
       catalog — ids are ~50 B/row instead.
    2. **Re-rank**: distinct candidate (mention, product) pairs join
       each side's embedding back BY ID (one narrow shuffle each),
       exact cosine, top-1-then-threshold gate.

    AQE skew-join splits residual hot blocks; the metadata filters are
    part of the blocking key so head attribute values ("black") are
    already spread across 2^bits_per_band × NBANDS partitions.
    """
    sig = make_signature_udf(NBITS, NBANDS, "link-img")

    m = _mention_side(mentions).withColumn("sigs", sig("embedding"))
    c = _catalog_side(catalog).withColumn("sigs", sig("c_embedding"))

    mb = m.select("doc_id", "span_idx", "m_type", "m_color", "m_gender",
                  F.posexplode("sigs").alias("m_band", "m_bsig"))
    cb = c.select("product_id", "c_type", "c_color", "c_gender",
                  F.posexplode("sigs").alias("c_band", "c_bsig"))
    cand = mb.join(
        cb,
        (F.col("m_band") == F.col("c_band"))
        & (F.col("m_bsig") == F.col("c_bsig"))
        & _filter_cond(),
        "inner",
    ).select("doc_id", "span_idx", "product_id") \
        .dropDuplicates(["doc_id", "span_idx", "product_id"])

    m_vec = m.select("doc_id", "span_idx", "attrs", "embedding")
    c_vec = c.select("product_id", F.col("c_category").alias("category"),
                     "c_embedding")
    paired = cand.join(m_vec, ["doc_id", "span_idx"]).join(c_vec, "product_id")
    scored = _dot_arrow(paired, "embedding", "c_embedding", "score")
    return _top1_then_threshold(scored, ["doc_id", "span_idx"], threshold)


def _dot_arrow(df: DataFrame, a_col: str, b_col: str,
               out_col: str, cosine: bool = False) -> DataFrame:
    """Row-wise dot product (or, with ``cosine=True``, full cosine
    a·b/(|a||b|)) of two array<float> columns via a ``mapInArrow``
    kernel (batched einsum over the flattened buffers — Catalyst's
    ``aggregate``/``zip_with`` form is interpreted per element and was
    the linking hot spot). Drops both vector columns, so downstream
    shuffles (e.g. a top-k window) carry narrow scored rows only.
    """
    import numpy as np
    from pyspark.sql import types as T

    keep = [f for f in df.schema.fields if f.name not in (a_col, b_col)]
    out_schema = T.StructType(keep + [T.StructField(out_col, T.DoubleType())])
    keep_names = [f.name for f in keep]

    def kernel(batches):
        import pyarrow as pa
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            a = np.asarray(rb.column(a_col).flatten(),
                           dtype=np.float64).reshape(n, -1)
            b = np.asarray(rb.column(b_col).flatten(),
                           dtype=np.float64).reshape(n, -1)
            dots = np.einsum("ij,ij->i", a, b)
            if cosine:
                na = np.sqrt(np.einsum("ij,ij->i", a, a))
                nb = np.sqrt(np.einsum("ij,ij->i", b, b))
                dots = dots / np.maximum(na * nb, 1e-300)
            yield pa.RecordBatch.from_arrays(
                [*(rb.column(c) for c in keep_names),
                 pa.array(dots, type=pa.float64())],
                names=[*keep_names, out_col])

    return df.mapInArrow(kernel, out_schema)


# Driver-broadcast budget of the packed catalog (pack_catalog, shared
# by detect_and_link_fused and canonical_mapping's driver path) and of
# dedup.embedding_near_dup_auto's broadcast matmul.
# A row gate alone is not a memory contract: 100k rows × 512-d
# float64 is ~410 MB of packed numpy on the driver AND inside every
# executor Python worker — the BYTES are what OOM, not the rows, and
# a 4096-d catalog must fall back to LSH long before 100k rows.
# Estimated packed size = rows × (dim × 8 + per-row overhead for the
# three object arrays: product_id/category/gender strings). A build
# packs once; near the gate the driver's Python peak is ~1.7× this
# size (the Arrow collect plus the pack).
BROADCAST_MAX_ROWS = 100_000
BROADCAST_BUDGET_MB = 256
_PACK_ROW_OVERHEAD = 160


def fits_driver_broadcast(catalog: DataFrame,
                          budget_mb: int = BROADCAST_BUDGET_MB
                          ) -> int | None:
    """The row count if ``catalog``'s packed vectors fit on the driver,
    else ``None`` — asserted in BYTES (estimated packed size), not just
    rows. ONE agg job (count + max vector length; both metadata-cheap
    on parquet/Iceberg scans with column pruning). Shared by
    ``pack_catalog`` and ``dedup.embedding_near_dup_auto``."""
    row = catalog.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size("embedding")).alias("dim")).first()
    n, dim = row["n"], row["dim"] or 0
    fits = n <= BROADCAST_MAX_ROWS \
        and n * (dim * 8 + _PACK_ROW_OVERHEAD) <= budget_mb << 20
    return n if fits else None


def pack_catalog(catalog: DataFrame, budget_mb: int = BROADCAST_BUDGET_MB,
                 extra: tuple = ("category", "gender")) -> dict | None:
    """``None`` past ``budget_mb`` (``fits_driver_broadcast``), else
    (type, color) → (pids, *``extra`` columns, float64 embedding
    matrix), rows sorted by product_id so argmax ties resolve to the
    min id; consumers only read the arrays. One Arrow collect: the
    embeddings reach the driver as one flat float buffer, not as a
    Python float per element (~4× the packed bytes)."""
    import numpy as np
    import pyarrow.compute as pc

    if fits_driver_broadcast(catalog, budget_mb) is None:
        return None
    t = catalog.select("product_id", "type", "color", *extra,
                       "embedding").toArrow()
    n = t.num_rows
    if n == 0:
        return {}
    # rows in (type, color, product_id) order, so each group is one
    # contiguous slice of ONE float64 matrix, filled chunk by chunk:
    # the driver holds the Arrow table and the pack, no third copy
    order = pc.sort_indices(t, [(c, "ascending") for c in
                                ("type", "color", "product_id")])
    row_at = np.empty(n, dtype=np.int64)
    row_at[order.to_numpy()] = np.arange(n)
    emb = t.column("embedding")
    mat, lo = np.empty((n, len(emb[0]))), 0
    for ch in emb.chunks:
        if len(ch):
            mat[row_at[lo:lo + len(ch)]] = \
                ch.flatten().to_numpy().reshape(len(ch), -1)
        lo += len(ch)
    cols = [np.array(t.column(c).take(order).to_pylist(), dtype=object)
            for c in ("product_id", *extra)]
    keys = list(zip(t.column("type").take(order).to_pylist(),
                    t.column("color").take(order).to_pylist()))
    cuts = [i for i in range(1, n) if keys[i] != keys[i - 1]]
    return {keys[a]: (*(c[a:b] for c in cols), mat[a:b])
            for a, b in zip([0, *cuts], [*cuts, n])}


def detect_and_link_fused(docs: DataFrame, packed: dict,
                          threshold: float = tx.LINK_THRESHOLD) -> DataFrame:
    """Mention detection + entity linking FUSED into one ``mapInArrow``
    kernel (the dim-sized-catalog fast path).

    A two-kernel plan (mentions kernel → link kernel) ships every
    mention's 512-d embedding Arrow→JVM→Arrow between them — ~2 KB/row
    of pure serialization for a column the linked output then drops.
    Fusing keeps embeddings in numpy: the detect step
    (``mentions.detect_batch``), then one matmul per (type, color)
    group against the broadcast ``packed`` catalog, emitting only the narrow
    linked rows. Semantics identical to ``image_mentions`` →
    ``link_exact`` (pinned by a parity test): gender mask, then the W5
    gate — the reference's top_k only bounds the candidates it ranks
    before checking rank 1, so emitting the argmax is exact; ties go
    to the min product_id."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from ..functions.embeddings import ATTR_SCHEMA

    spans = mn.explode_spans(docs).filter(
        (F.col("kind") == "image_ref") & F.col("media_ref").isNotNull())
    bc = spans.sparkSession.sparkContext.broadcast(packed)

    out_schema = T.StructType([
        T.StructField("doc_id", spans.schema["doc_id"].dataType),
        T.StructField("span_idx", spans.schema["span_idx"].dataType),
        T.StructField("product_id", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("attrs", ATTR_SCHEMA),
        T.StructField("score", T.DoubleType()),
    ])

    def kernel(batches):
        cat = bc.value
        for rb in batches:
            det = mn.detect_batch(rb.column("media_ref"))
            if det is None:
                continue
            idx, _, _, attrs, vecs = det
            vecs = vecs.astype(np.float64)
            m_gender = np.asarray(attrs["gender"], dtype=object)
            by_key: dict = {}
            for i, k in enumerate(zip(attrs["type"], attrs["color"])):
                by_key.setdefault(k, []).append(i)
            sel_local: list = []        # indices into idx / attrs
            out_pid: list = []
            out_cat: list = []
            out_score: list = []
            for k, idxs in by_key.items():
                g = cat.get(k)
                if g is None:
                    continue
                pids, cats, genders, cmat = g
                sims = vecs[idxs] @ cmat.T
                mg = m_gender[idxs]
                allowed = (genders[None, :] == "unisex") | \
                          (genders[None, :] == mg[:, None])
                sims = np.where(allowed, sims, -np.inf)
                best = np.argmax(sims, axis=1)      # first max = min pid
                bscore = sims[np.arange(len(idxs)), best]
                ok = np.nonzero(bscore >= threshold)[0]
                sel_local.extend(idxs[j] for j in ok)
                out_pid.extend(pids[best[j]] for j in ok)
                out_cat.extend(cats[best[j]] for j in ok)
                out_score.extend(float(bscore[j]) for j in ok)
            if not sel_local:
                continue
            take_orig = pa.array(idx[sel_local].astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                [rb.column("doc_id").take(take_orig),
                 rb.column("span_idx").take(take_orig),
                 pa.array(out_pid, type=pa.string()),
                 pa.array(out_cat, type=pa.string()),
                 mn.attrs_array(attrs, sel_local),
                 pa.array(out_score, type=pa.float64())],
                names=out_schema.names)

    return spans.mapInArrow(kernel, out_schema)


def link_mentions(docs: DataFrame, catalog: DataFrame, packed: dict | None,
                  threshold: float = tx.LINK_THRESHOLD) -> DataFrame:
    """Detect and link the image mentions of ``docs`` — the one linking
    entry point. ``packed`` (``pack_catalog(catalog)``) picks the
    path: a pack takes the fused detect+link kernel (exact, zero
    shuffles); ``None`` takes ``image_mentions`` → LSH blocking.
    Spark's own broadcast threshold cannot make this call — the
    cosine join needs it made here, above Catalyst."""
    if packed is not None:
        return detect_and_link_fused(docs, packed, threshold)
    return link_lsh(mn.image_mentions(docs), catalog, threshold)
