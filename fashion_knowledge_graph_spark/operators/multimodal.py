"""Multimodal (image / audio / video) column plumbing.

Media travel as opaque ``binary`` columns plus a typed metadata
struct — the layout that survives 100 TB: bytes stay columnar in
parquet, metadata predicates (mime, width, duration) push down to the
scan without touching payloads, and all per-byte work runs in
Arrow-batched ``mapInPandas`` so one Python worker sees thousands of
blobs per batch.

The actual codecs (PIL / ffmpeg / torchaudio) are NOT in this
container, so the decode kernels are stubs: ``decode_image`` raises
``NotImplementedError`` unless ``fake=True``, in which case a
deterministic hash-derived decode stands in (shape-correct, seeded by
content bytes). Everything Spark-side — schema, partitioning, batch
iteration, UDF signatures, output shapes — is real and tested.

Reference parity: the reference loads media row-at-a-time with PIL
(src/engine/image_processor.py:63-87) and runs SegFormer/CLIP on
single images (src/models/segmentation_model.py:83-129); here the same
responsibilities are batch kernels over record batches.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("mime", T.StringType()),          # image/jpeg, audio/wav, …
    T.StructField("content", T.BinaryType()),       # opaque payload
    T.StructField("meta", T.StructType([            # typed, pushdown-able
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ])),
])

FEATURE_DIM = 64


def _md5_int(col, salt: str):
    """Portable 60-bit hash: first 15 md5 hex chars as bigint —
    identical in Spark (conv) and DuckDB ('0x…'::BIGINT), so media
    sizes/content are oracle-reproducible (xxhash64 is Spark-only)."""
    return F.conv(F.substring(F.md5(F.concat(col, F.lit(salt))), 1, 15),
                  16, 10).cast("bigint")


def synthesize_media(refs_df: DataFrame) -> DataFrame:
    """Deterministic fake media table from reference keys (test/bench
    input): content = md5-stream bytes (128 B), sizes md5-derived —
    every field replayable in ANSI SQL for the driver oracle. Real
    deployments replace this with a parquet/Iceberg media table."""
    r = F.col("media_ref")
    content = F.to_binary(F.repeat(F.md5(r), 8), F.lit("hex"))
    # deterministic modality split (~25% video): first hex digit of a
    # salted md5 — replayable as substr(md5(mid||':m'),1,1) < '4'
    is_video = F.substring(F.md5(F.concat(r, F.lit(":m"))), 1, 1) < "4"
    return refs_df.select(
        r.alias("media_id"),
        F.when(is_video, "video/mp4").otherwise("image/png").alias("mime"),
        content.alias("content"),
        F.struct(
            (F.pmod(_md5_int(r, ":w"), F.lit(481)) + 32).cast("int")
            .alias("width"),
            (F.pmod(_md5_int(r, ":h"), F.lit(481)) + 32).cast("int")
            .alias("height"),
            F.when(is_video,
                   (F.pmod(_md5_int(r, ":d"), F.lit(9000)) + 500))
            .cast("int").alias("duration_ms"),
            F.length(content).cast("long").alias("n_bytes"),
        ).alias("meta"))


def _fake_pixels(content: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w) uint8 'decode': content bytes tiled
    row-major across the image (px[r,c] = content[(r·w+c) mod len]).
    Chosen over an RNG-seeded decode so the downstream pooled-feature
    math is closed-form ANSI-SQL-expressible (the driver's DuckDB
    oracle replays it exactly)."""
    b = np.frombuffer(content, dtype=np.uint8)
    if len(b) == 0:
        b = np.zeros(1, dtype=np.uint8)
    idx = np.arange(h * w, dtype=np.int64) % len(b)
    return b[idx].reshape(h, w)


def decode_image(content: bytes, w: int, h: int, fake: bool = False) -> np.ndarray:
    """Real decode requires PIL (not installed here)."""
    if not fake:
        raise NotImplementedError(
            "image codecs are not available in this environment; "
            "pass fake=True for the deterministic stand-in")
    return _fake_pixels(content, w, h)


def extract_features(media: DataFrame) -> DataFrame:
    """media table → (media_id, feature:array<float>) via mapInPandas.

    Batch shape is the production contract: the kernel receives whole
    Arrow record batches, decodes each payload, and emits
    ``FEATURE_DIM``-wide features; swapping the body for a real vision
    model changes no Spark plumbing. Map-side only — zero shuffles."""
    out_schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for content, meta in zip(pdf["content"], pdf["meta"]):
                px = decode_image(bytes(content), int(meta["width"]),
                                  int(meta["height"]), fake=True)
                # deterministic pooled 'feature': col/row means folded
                # to dim; double precision end-to-end so the SQL oracle
                # (exact integer sums / IEEE division) agrees to the
                # last rounding digit
                pooled = np.concatenate([
                    px.mean(axis=0), px.mean(axis=1)]).astype(np.float64)
                reps = int(np.ceil(FEATURE_DIM / len(pooled)))
                v = np.tile(pooled, reps)[:FEATURE_DIM]
                n = np.linalg.norm(v)
                feats.append(v / n if n else v)
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "feature": feats})

    return media.mapInPandas(kernel, out_schema)


def resize_meta(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize planning — pure Catalyst: compute target dims from the
    metadata struct (the byte-level resample happens in the same
    mapInPandas kernel as decode at runtime; planning it relationally
    lets Catalyst prune payloads for rows already small enough)."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(1.0), F.lit(max_side) /
                    F.greatest(w, h).cast("double"))
    # floor(x+0.5) = HALF_UP for positive dims, with one rounding-mode
    # definition shared verbatim by every SQL engine (round() halves
    # differ across engines; this form is oracle-portable)
    return media.select(
        "media_id", "mime", "meta",
        F.floor(w * scale + 0.5).cast("int").alias("target_width"),
        F.floor(h * scale + 0.5).cast("int").alias("target_height"),
        (scale < 1.0).alias("needs_resize"))


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per frame timestamp via
    ``sequence`` + ``explode`` on duration metadata — the shuffle-free
    fan-out that precedes per-frame decode."""
    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(0))
    return media.select(
        "media_id",
        F.explode(F.when(
            dur > 0,
            F.sequence(F.lit(0), dur - 1, F.lit(every_ms)))
            .otherwise(F.array(F.lit(0)))).alias("frame_ms"))


def audio_chunk_plan(media: DataFrame, chunk_ms: int = 2000,
                     overlap_ms: int = 500) -> DataFrame:
    """Overlapping audio-chunk plan: one row per decode window over
    every timed media item → ``(media_id, chunk_idx, start_ms,
    end_ms)``, starts every ``chunk_ms − overlap_ms`` (the standard
    ASR/embedding windowing — overlap keeps utterances that straddle
    a boundary inside at least one chunk), ends clipped to the
    duration.

    Same shuffle-free ``sequence`` + ``posexplode`` shape as
    ``frame_sample_plan``: the plan is pure map work over the
    metadata; per-chunk decode happens downstream (stubbed in this
    container). Untimed media (images, duration 0/null) produce no
    chunks — an image has no waveform; contrast the frame plan's
    [0] still-frame fallback, which IS meaningful for images.
    """
    if overlap_ms >= chunk_ms:
        raise ValueError("overlap_ms must be < chunk_ms")
    step = chunk_ms - overlap_ms
    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(0))
    starts = F.when(dur > 0,
                    F.sequence(F.lit(0), dur - 1, F.lit(step)))
    return (media.select("media_id", dur.alias("dur"),
                         F.posexplode(starts)
                         .alias("chunk_idx", "start_ms"))
            .select("media_id", "chunk_idx", "start_ms",
                    F.least(F.col("start_ms") + F.lit(chunk_ms),
                            F.col("dur")).alias("end_ms")))


def synthesize_media_clustered(docs_df: DataFrame,
                               n_bases: int = 40) -> DataFrame:
    """Near-dup media synthesis (test/bench input for perceptual-hash
    dedup): every instance repeats its cluster's base payload
    (cluster = id mod ``n_bases``) with ONE md5-chosen low nibble
    perturbed — the deterministic stand-in for "same image, tiny
    re-encode jitter". Fixed dims so cluster members are pixel-aligned.
    Every byte is replayable in ANSI SQL (string ops over md5 hex)."""
    base = F.format_string("img://base%08d",
                           F.pmod(F.col("doc_id"), F.lit(n_bases)))
    mid = F.format_string("img://doc%08d", F.col("doc_id"))
    hx0 = F.repeat(F.md5(base), 8)               # 256 hex = 128 bytes
    p = F.pmod(_md5_int(mid, ":p"), F.lit(128))  # perturbed byte
    hx = F.concat(F.substring(hx0, 1, 2 * p + 1),
                  F.substring(F.md5(mid), 1, 1),
                  F.substring(hx0, 2 * p + 3, F.lit(256)))
    content = F.to_binary(hx, F.lit("hex"))
    return docs_df.select(
        mid.alias("media_id"),
        F.lit("image/png").alias("mime"),
        content.alias("content"),
        F.struct(F.lit(48).cast("int").alias("width"),
                 F.lit(32).cast("int").alias("height"),
                 F.lit(None).cast("int").alias("duration_ms"),
                 F.length(content).cast("long").alias("n_bytes"),
                 ).alias("meta"))


def pixel_pool_sums(media: DataFrame) -> DataFrame:
    """media → (media_id, psums:array<long>): EXACT scaled-integer
    pooled pixel sums — the perceptual-hash input.

    Same pooling layout as ``extract_features`` (first
    min(w, FEATURE_DIM)
    column sums, then row sums to fill), but kept in integers scaled
    to the common denominator L = lcm(h, w): col j carries
    S_col(j)·L/h, row j carries S_row(j)·L/w, so u_j/L is the pooled
    mean. Downstream sign tests are pure BIGINT comparisons —
    bit-identical across Spark, numpy, and the DuckDB oracle, immune
    to float summation order."""
    import math

    out_schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("psums", T.ArrayType(T.LongType())),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for content, meta in zip(pdf["content"], pdf["meta"]):
                w, h = int(meta["width"]), int(meta["height"])
                px = decode_image(bytes(content), w, h,
                                  fake=True).astype(np.int64)
                lcm = math.lcm(h, w)
                cols = px.sum(axis=0) * (lcm // h)
                rows = px.sum(axis=1) * (lcm // w)
                u = np.concatenate(
                    [cols[:FEATURE_DIM], rows])[:FEATURE_DIM]
                out.append(u)
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "psums": out})

    return media.mapInPandas(kernel, out_schema)


def phash64(psums: DataFrame) -> DataFrame:
    """64-bit perceptual hash as 4×16-bit band integers (b0..b3).

    bit_j = [u_j·64 > Σ_k u_k] — "this pooled region is brighter than
    the image mean", the classic mean-threshold pHash, evaluated in
    exact BIGINT arithmetic (see pixel_pool_sums). Band k packs bits
    16k..16k+15 little-endian; bands double as the LSH blocking keys."""
    with_tot = psums.withColumn(
        "__tot", F.aggregate(F.col("psums"), F.lit(0).cast("long"),
                             lambda a, x: a + x))
    band = lambda k: F.expr(
        f"aggregate(sequence(0, 15), cast(0 as bigint), (acc, i) -> "
        f"acc + if(element_at(psums, {16 * k} + i + 1) * 64 "
        f"         > __tot, shiftleft(cast(1 as bigint), i), "
        f"         cast(0 as bigint)))")
    return with_tot.select(
        "media_id", band(0).alias("b0"), band(1).alias("b1"),
        band(2).alias("b2"), band(3).alias("b3"))


def phash_near_dup(codes: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Banded-LSH near-dup pairs over 64-bit pHash codes.

    Candidates = pairs agreeing EXACTLY on ≥1 of the 4 bands (an
    equi-join per band — never an all-pairs scan; at 10^12 media the
    shuffle is keyed on (band_idx, band_value) like the SimHash path,
    operators/dedup.py), then verified with the exact Hamming distance
    (bit_count over per-band XORs). Returns (src, dst, hamming),
    hamming ≤ ``max_hamming``."""
    eb = codes.select(
        "media_id",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("k", "v"))
    a = eb.select(F.col("media_id").alias("src"), "k", "v")
    b = eb.select(F.col("media_id").alias("dst"), "k", "v")
    cand = (a.join(b, ["k", "v"])
            .filter(F.col("src") < F.col("dst"))
            .select("src", "dst").distinct())
    s = codes.select(F.col("media_id").alias("src"),
                     *[F.col(c).alias(c + "s") for c in
                       ("b0", "b1", "b2", "b3")])
    d = codes.select(F.col("media_id").alias("dst"),
                     *[F.col(c).alias(c + "d") for c in
                       ("b0", "b1", "b2", "b3")])
    ham = sum(F.bit_count(F.expr(f"b{i}s ^ b{i}d")) for i in range(4))
    return (cand.join(s, "src").join(d, "dst")
            .select("src", "dst", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))
