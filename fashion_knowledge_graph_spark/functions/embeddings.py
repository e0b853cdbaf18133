"""Arrow-batched embedding / attribute-extraction UDFs.

These are the pipeline's "model inference" operators (SURVEY §2.H) —
the only places Python touches row data, always through vectorized
pandas UDFs over Arrow batches (input_hint mandates no per-row
Python). Each wraps the deterministic stand-ins in
``functions.hashing`` / ``datagen.content_embed``; swapping in real
CLIP / MiniLM / GPT-4o is a body-only change, the signatures are the
contract.

Reference parity:
- image embedding 512-d  : src/models/embedding_model.py:80-197 (M4)
- text embedding 384-d   : src/models/embedding_model.py:233-291 (M5)
- attribute extraction   : src/models/attribute_extraction_model.py:47-114 (M2)
- mention detection      : src/models/segmentation_model.py:83-171 +
                           src/engine/image_processor.py:106-148 (M1)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import taxonomy as tx

ATTR_SCHEMA = T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("color", T.StringType()),
    T.StructField("style", T.ArrayType(T.StringType())),
    T.StructField("season", T.ArrayType(T.StringType())),
    T.StructField("occasion", T.ArrayType(T.StringType())),
    T.StructField("price", T.StringType()),
    T.StructField("material", T.ArrayType(T.StringType())),
    T.StructField("fit", T.StringType()),
    T.StructField("gender", T.StringType()),
    T.StructField("age_group", T.StringType()),
])

SEGMENT_SCHEMA = T.StructType([
    T.StructField("label", T.StringType()),
    T.StructField("area", T.LongType()),
])


@pandas_udf(T.ArrayType(T.FloatType()))
def image_embed_udf(refs: pd.Series) -> pd.Series:
    """media_ref → 512-d L2-normalized image embedding (M4)."""
    from ..datagen import content_embed

    vecs = content_embed(refs.to_numpy())
    return pd.Series(list(vecs))


@pandas_udf(T.ArrayType(T.FloatType()))
def text_embed_udf(texts: pd.Series) -> pd.Series:
    """text → 384-d L2-normalized sentence embedding (M5)."""
    from .hashing import embed_strings

    vecs = embed_strings(("txt:" + texts.fillna("")).to_numpy(), tx.TXT_DIM)
    return pd.Series(list(vecs))


@pandas_udf(T.ArrayType(T.FloatType()))
def clip_text_embed_udf(texts: pd.Series) -> pd.Series:
    """text → 512-d image-space embedding (M4's text tower —
    src/models/embedding_model.py:154-197). CLIP text and image
    embeddings share one space — that joint structure is what makes
    the reference's text→image search work, and the stand-in models
    it explicitly (hashing.clip_text_vecs): attribute surface forms in
    the text map onto the same attribute direction vectors that
    compose item image embeddings (datagen.content_embed)."""
    from .hashing import clip_text_vecs

    vecs = clip_text_vecs(texts.to_numpy(), tx.IMG_DIM)
    return pd.Series(list(vecs))


@pandas_udf(ATTR_SCHEMA)
def attrs_udf(refs: pd.Series) -> pd.DataFrame:
    """media_ref → closed-vocabulary attribute record (M2).

    Derived from the *base* content key, so every photo variant of a
    garment yields identical attributes (the reference's GPT-4o sees
    the same garment)."""
    from ..datagen import base_attrs

    a = base_attrs(refs.to_numpy())
    return pd.DataFrame({k: pd.Series(list(v)) for k, v in a.items()})


@pandas_udf(SEGMENT_SCHEMA)
def segment_udf(refs: pd.Series) -> pd.DataFrame:
    """media_ref → (label, area) of the dominant segment (M1).

    Stand-in for SegFormer + largest-mask crop
    (image_processor.py:138-142)."""
    from .hashing import segment_labels_areas

    labels, areas = segment_labels_areas(refs.to_numpy())
    return pd.DataFrame({"label": pd.Series(list(labels)),
                         "area": pd.Series(areas)})


# Optimizer barrier: Catalyst treats pandas UDFs as deterministic and
# will substitute them through filter pushdown / project collapse,
# re-evaluating the model call once per reference (observed: attrs_udf
# scheduled in TWO ArrowEvalPython nodes because the downstream
# attrs.type filter was pushed below the projection). Marking the
# expensive inference UDFs non-deterministic pins each to a single
# evaluation site. They ARE value-deterministic — this only constrains
# plan rewrites, exactly like Spark's own recommendation for costly UDFs.
attrs_udf = attrs_udf.asNondeterministic()
segment_udf = segment_udf.asNondeterministic()
image_embed_udf = image_embed_udf.asNondeterministic()
clip_text_embed_udf = clip_text_embed_udf.asNondeterministic()
text_embed_udf = text_embed_udf.asNondeterministic()


def cosine_col(a, b):
    """Exact cosine between two array<float/double> columns, JVM-side
    (no Python): zip_with product + aggregate sum. Inputs here are
    L2-normalized so cosine ≡ dot (src/models/embedding_model.py:148-151).

    Products are taken in DOUBLE (cast before multiply): float32
    products lose ~1e-8 per term, which is visible at the driver
    oracle's 9-decimal rounding; double products of float32 inputs are
    exact, so a float64 SQL replay (DuckDB list_inner_product over
    ::DOUBLE[] casts) matches bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b,
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def hyperplanes(dim: int, nbits: int, seed_key: str) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH (shared by the
    Spark operator and the test oracle)."""
    from .hashing import hash64, rand_uniform

    h = hash64([f"lsh:{seed_key}:{i}" for i in range(nbits)])
    u = rand_uniform(h, dim, lane=91)
    return (u * 2.0 - 1.0).astype(np.float32)


def banding_recall(cos_threshold: float, bits_per_band: int,
                   nbands: int) -> float:
    """P(a pair at exactly ``cos_threshold`` becomes a candidate)
    under sign-LSH banding: per-bit agreement p = 1 − θ/π
    (Goemans–Williamson), a band matches with p^b, and the pair
    collides in at least one of k bands with 1 − (1 − p^b)^k. Recall
    for pairs ABOVE the threshold is strictly higher (p is monotone
    in cosine), so this is the conservative design number."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, cos_threshold))) / math.pi
    return 1.0 - (1.0 - p ** bits_per_band) ** nbands


def lsh_params_for(cos_threshold: float, target_recall: float = 0.99,
                   max_nbits: int = 4096) -> tuple[int, int]:
    """(nbits, nbands) meeting ``target_recall`` at ``cos_threshold``
    with the FEWEST expected random collisions.

    Design trade: longer bands (more bits) cut random-pair collisions
    ~2× per bit (a random pair agrees on a bit with p≈0.5) but need
    more bands to keep recall — expected random-collision work per
    pair ∝ k·2^(−b). Scan b, take the minimal k that clears the
    recall target, keep the (b, k) with the least collision mass.
    Replaces magic banding constants with the closed form the
    operator docstrings cite (components.near_duplicate_pairs,
    linking.link_lsh)."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, cos_threshold))) / math.pi
    best = None
    for b in range(1, 33):
        pb = p ** b
        if pb >= 1.0:          # threshold 1.0 — any single band works
            cand = (b, 1)
        elif pb <= 0.0:
            continue
        else:
            k = math.ceil(math.log(1.0 - target_recall)
                          / math.log(1.0 - pb))
            cand = (b, k)
        if cand[0] * cand[1] > max_nbits:
            continue
        noise = cand[1] * 0.5 ** cand[0]
        if best is None or noise < best[0]:
            best = (noise, cand)
    if best is None:
        raise ValueError(
            f"no banding within {max_nbits} bits reaches recall "
            f"{target_recall} at cosine {cos_threshold}")
    b, k = best[1]
    return b * k, k


def make_signature_udf(nbits: int, nbands: int, seed_key: str):
    """vec → array<int> of ``nbands`` band signatures (packed sign
    bits) under ``hyperplanes(dim, nbits, seed_key)``, drawn for the
    vectors' own width ``dim`` once per width per task — no caller
    needs to know the width, so none probes for it. Runs as an
    Arrow-batched matmul — one BLAS call per batch."""
    assert nbits % nbands == 0
    bits_per_band = nbits // nbands
    planes: dict[int, np.ndarray] = {}

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def signature_udf(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())                      # (n, dim)
        dim = m.shape[1]
        if dim not in planes:
            planes[dim] = hyperplanes(dim, nbits, seed_key)
        signs = (m @ planes[dim].T) >= 0                   # (n, nbits)
        weights = (1 << np.arange(bits_per_band)).astype(np.int64)
        sigs = signs.reshape(len(m), nbands, bits_per_band) @ weights
        return pd.Series(list(sigs.astype(np.int32)))

    return signature_udf
