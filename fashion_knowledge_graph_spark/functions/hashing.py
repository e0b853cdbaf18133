"""Deterministic hash-derived embeddings and attribute records.

Stand-ins for the reference's neural models so the pipeline is
testable with no GPU / network, while keeping the Spark-side plumbing
(Arrow batches, schemas, partitioning) production-shaped:

- CLIP image/text embeddings, 512-d L2-normalized
  (reference: src/models/embedding_model.py:80-197, normalize=True at
  148-151/187-191)  → ``embed_strings(keys, 512)``
- MiniLM sentence embeddings, 384-d
  (reference: src/models/embedding_model.py:233-291) → ``embed_strings(keys, 384)``
- GPT-4o closed-vocabulary attribute extraction
  (reference: src/models/attribute_extraction_model.py:47-114,
  vocabulary src/utils/prompts.py:4-13) → ``attrs_from_refs(keys)``

Everything here is plain numpy so the *same* code runs inside Spark
pandas UDFs, inside the pure-pandas test oracle, and inside datagen —
guaranteeing bit-identical agreement between pipeline and oracle.

Design note (scale): every kernel is vectorized numpy end to end —
``hash64`` views the string batch as a UCS-4 matrix and mixes columns
(Python's builtin ``hash`` is salted and unusable; a per-string digest
loop would serialize the Arrow workers); the embedding expansion is a
single broadcasted splitmix64 → uniform floats → L2 normalize pass.
Swapping in a real model is a one-function change (the pandas-UDF
signature in functions/embeddings.py is the contract).
"""

from __future__ import annotations

import numpy as np

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def hash64(keys) -> np.ndarray:
    """Stable 64-bit hash per string (uint64 ndarray) — fully
    vectorized.

    The strings are viewed as a fixed-width UCS-4 code-point matrix
    (numpy's native unicode layout) and each column is mixed with a
    splitmix64 finalizer keyed by its position, summed, then finalized
    with the string length. Padding code points (0) contribute nothing,
    so the hash is independent of the batch's max width — the same
    string hashes identically in every batch. Replaces a per-string
    ``hashlib.blake2b`` Python loop that serialized the Arrow UDF hot
    path (the no-per-row-Python mandate applies inside kernels too:
    32 workers × a Python loop each did not scale past 8 cores).
    """
    n = len(keys)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    a = np.asarray([str(k) for k in keys] if not (
        isinstance(keys, np.ndarray) and keys.dtype.kind == "U") else keys,
        dtype="U")
    if a.dtype.itemsize == 0:                      # all-empty edge case
        return _splitmix64(np.zeros(n, dtype=np.uint64))
    width = a.dtype.itemsize // 4
    m = np.ascontiguousarray(a).view(np.uint32).reshape(n, width)
    lengths = (m != 0).sum(axis=1).astype(np.uint64)
    h = np.zeros(n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(width):
            c = m[:, j].astype(np.uint64)
            mixed = _splitmix64(c + np.uint64(j + 1) * _GOLDEN)
            h += np.where(c != 0, mixed, np.uint64(0))
        return _splitmix64(h ^ (lengths * _GOLDEN))


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain algorithm)."""
    with np.errstate(over="ignore"):
        z = (x + _GOLDEN).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def rand_uniform(h: np.ndarray, ncols: int, lane: int = 0) -> np.ndarray:
    """(len(h), ncols) deterministic uniforms in [0,1) from uint64 seeds.

    Cache-blocked: the (n, ncols) grid is computed in (row, column)
    tiles with two preallocated uint64 scratch buffers and in-place
    splitmix64 — a whole-grid pass allocates ~6 × n·ncols·8B
    temporaries (at 512-d embedding batches that is >100 MB of memory
    traffic per call, which saturates DRAM bandwidth and flattens
    multi-worker scaling; measured 1.8× at 4× workers). Values are
    bit-identical to the unblocked form."""
    n = len(h)
    out = np.empty((n, ncols), dtype=np.float64)
    rb, cb = 2048, 64                      # tile ≈ 1 MB, L2-resident
    z = np.empty((min(rb, n), min(cb, ncols)), dtype=np.uint64)
    t = np.empty_like(z)
    inv = 1.0 / 18446744073709551616.0
    with np.errstate(over="ignore"):
        base = h.astype(np.uint64) + np.uint64(lane) * np.uint64(0xD1B54A32D192ED03)
        col_mul = np.arange(ncols, dtype=np.uint64) * _GOLDEN + _GOLDEN
        for r0 in range(0, n, rb):
            r1 = min(r0 + rb, n)
            for c0 in range(0, ncols, cb):
                c1 = min(c0 + cb, ncols)
                zz = z[:r1 - r0, :c1 - c0]
                tt = t[:r1 - r0, :c1 - c0]
                np.add(base[r0:r1, None], col_mul[None, c0:c1], out=zz)
                np.right_shift(zz, np.uint64(30), out=tt)
                zz ^= tt
                zz *= np.uint64(0xBF58476D1CE4E5B9)
                np.right_shift(zz, np.uint64(27), out=tt)
                zz ^= tt
                zz *= np.uint64(0x94D049BB133111EB)
                np.right_shift(zz, np.uint64(31), out=tt)
                zz ^= tt
                np.multiply(zz, inv, out=out[r0:r1, c0:c1], casting="unsafe")
    return out


_MLP_HIDDEN = 1024
_MLP_CACHE: dict = {}


def _mlp_weights(dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic dense layers (dim→hidden→dim) for the embedding
    stand-in's forward pass."""
    if dim not in _MLP_CACHE:
        h1 = hash64([f"mlp:{dim}:1:{i}" for i in range(dim)])
        w1 = ((rand_uniform(h1, _MLP_HIDDEN, lane=71) * 2 - 1)
              / np.sqrt(dim)).astype(np.float32)
        h2 = hash64([f"mlp:{dim}:2:{i}" for i in range(_MLP_HIDDEN)])
        w2 = ((rand_uniform(h2, dim, lane=72) * 2 - 1)
              / np.sqrt(_MLP_HIDDEN)).astype(np.float32)
        _MLP_CACHE[dim] = (w1, w2)
    return _MLP_CACHE[dim]


def _mlp_forward(h: np.ndarray, dim: int, w1: np.ndarray,
                 w2: np.ndarray, bias: np.ndarray | None) -> np.ndarray:
    """Row-blocked MLP forward pass with in-place tanh: whole-batch
    hidden activations are n×1024 f32 (~40 MB at 10k rows) and the
    allocation/stream traffic re-saturates DRAM across 16 workers;
    256-row blocks keep activations cache-resident."""
    u = rand_uniform(h, dim, lane=1)
    v = (u * 2.0 - 1.0).astype(np.float32)
    out = np.empty_like(v)
    hid = np.empty((min(256, len(v)), _MLP_HIDDEN), dtype=np.float32)
    for r0 in range(0, len(v), 256):
        r1 = min(r0 + 256, len(v))
        hh = hid[:r1 - r0]
        np.matmul(v[r0:r1], w1, out=hh)
        np.tanh(hh, out=hh)
        np.matmul(hh, w2, out=out[r0:r1])
        if bias is not None:
            out[r0:r1] -= bias
    return out


def _embed_raw(h: np.ndarray, dim: int) -> np.ndarray:
    """Unwhitened MLP output (probe path for the whitening stats)."""
    w1, w2 = _mlp_weights(dim)
    return _mlp_forward(h, dim, w1, w2, None)


_WHITEN_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _whitened_weights(dim: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(w1, w2·W, μ·W): output layer with the ZCA transform FOLDED IN.

    The tanh MLP's raw outputs are anisotropic (effective rank ≈ 200
    at dim 512 ⇒ unrelated-key cosine std ≈ 0.07, max over a catalog
    ≈ 0.3 — junk text cleared the 0.2 CLIP retrieval threshold).
    ZCA-whitening from 1536 probe keys restores isotropy (std ≈
    1/√dim), like the output-whitening real encoders apply for
    retrieval. Because whitening is affine, it folds into the output
    layer: (x·w2 − μ)·W = x·(w2·W) − μ·W — zero per-row cost, one
    ~0.3 s estimation per worker process (cached)."""
    if dim not in _WHITEN_CACHE:
        h = hash64([f"mu-probe:{dim}:{i}" for i in range(1536)])
        raw = _embed_raw(h, dim).astype(np.float64)
        mu = raw.mean(axis=0)
        cov = np.cov(raw - mu, rowvar=False)
        evals, evecs = np.linalg.eigh(cov)
        w = evecs @ np.diag(1.0 / np.sqrt(evals + 1e-6)) @ evecs.T
        w1, w2 = _mlp_weights(dim)
        w2w = (w2.astype(np.float64) @ w).astype(np.float32)
        bias = (mu @ w).astype(np.float32)
        _WHITEN_CACHE[dim] = (w1, w2w, bias)
    return _WHITEN_CACHE[dim]


def embed_hashes(h: np.ndarray, dim: int) -> np.ndarray:
    """uint64 seeds → (n, dim) float32 L2-normalized embeddings.

    The forward pass is a deterministic 2-layer MLP (dim → 1024 →
    dim, tanh) over hash-seeded inputs: ~2 MFLOP/row, the arithmetic
    intensity of a small sentence-encoder — the stand-in must cost
    like a model or every benchmark of the surrounding engine
    overstates throughput and understates scaling (a hash-only
    stand-in made the pipeline fixed-overhead-bound). The output
    layer carries a folded ZCA whitening (see ``_whitened_weights``),
    then L2-normalize, so cosine ≡ dot afterwards (reference
    normalizes too: src/models/embedding_model.py:148-151).
    """
    w1, w2w, bias = _whitened_weights(dim)
    out = _mlp_forward(h, dim, w1, w2w, bias)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


def embed_strings(keys, dim: int) -> np.ndarray:
    return embed_hashes(hash64(keys), dim)


def perturb(vecs: np.ndarray, h: np.ndarray, eps: float) -> np.ndarray:
    """Deterministic small perturbation + renormalize — used by datagen
    to create near-duplicate entities for the canonicalization tests."""
    noise = (rand_uniform(h, vecs.shape[1], lane=7) * 2.0 - 1.0) * eps
    v = (vecs + noise.astype(np.float32)).astype(np.float32)
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return v / norms


def pick(h: np.ndarray, options: list, lane: int) -> np.ndarray:
    """Deterministic uniform pick from ``options`` per seed."""
    u = rand_uniform(h, 1, lane=lane)[:, 0]
    idx = np.minimum((u * len(options)).astype(np.int64), len(options) - 1)
    return np.asarray(options, dtype=object)[idx]


def pick_zipf(h: np.ndarray, options: list, lane: int) -> np.ndarray:
    """Zipf-skewed pick: head values ('black', 'cotton') dominate —
    exercises the salted-join skew path (FIXTURES.md §1)."""
    ranks = np.arange(1, len(options) + 1, dtype=np.float64)
    w = 1.0 / ranks**1.2
    cdf = np.cumsum(w / w.sum())
    u = rand_uniform(h, 1, lane=lane)[:, 0]
    idx = np.searchsorted(cdf, u, side="right")
    idx = np.minimum(idx, len(options) - 1)
    return np.asarray(options, dtype=object)[idx]


def pick_multi(h: np.ndarray, options: list, lane: int,
               zipf: bool = False) -> list[list]:
    """1–2 distinct deterministic picks per seed (multi-valued attrs)."""
    first = pick_zipf(h, options, lane) if zipf else pick(h, options, lane)
    second = pick(h, options, lane + 100)
    two = (rand_uniform(h, 1, lane=lane + 200)[:, 0] < 0.5) \
        & (second != first)
    return [[f, s] if t else [f]
            for f, s, t in zip(first, second, two)]


def attrs_from_refs(keys) -> dict[str, np.ndarray | list]:
    """Deterministic closed-vocabulary attribute record per media_ref.

    Stand-in for GPT-4o attribute extraction
    (src/models/attribute_extraction_model.py:47-114). Same media_ref
    ⇒ same attributes everywhere (datagen, oracle, Spark UDF).
    color/material are Zipf-skewed to create hot keys.
    """
    from .. import taxonomy as tx

    h = hash64(keys)
    return {
        "type": pick(h, tx.TYPES, lane=11),
        "color": pick_zipf(h, tx.COLORS, lane=12),
        "style": pick_multi(h, tx.STYLES, lane=13),
        "season": pick_multi(h, tx.SEASONS, lane=14),
        "occasion": pick_multi(h, tx.OCCASIONS, lane=15),
        "price": pick(h, tx.PRICES, lane=16),
        "material": pick_multi(h, tx.MATERIALS, lane=17, zipf=True),
        "fit": pick(h, tx.FITS, lane=18),
        "gender": pick(h, tx.GENDERS, lane=19),
        "age_group": pick(h, tx.AGE_GROUPS, lane=20),
    }


# ---- attribute-compositional embedding space (joint "CLIP" space) ----
#
# The reference's CLIP puts text and images in ONE space: the text
# "black cotton dress" lands near photos of black cotton dresses
# (src/models/embedding_model.py:154-197 — get_text_features and
# get_image_features share the projection head). The stand-in models
# that joint structure explicitly: an item's image embedding is the
# sum of unit vectors for its (color, type, material, style)
# attributes plus ENTITY_WEIGHT × a per-entity unit vector; a text
# embedding is the sum of the attribute vectors whose surface forms
# appear in the text. Cosine geometry (unit vectors ≈ orthogonal):
#
#   same entity, photo variant          ≈ 0.97+  (≥ link threshold 0.7)
#   duplicate catalog listing           ≈ 0.99+  (≥ dup threshold 0.98)
#   distinct entities, all 4 attrs same ≈ 4/(4+β²) = 0.50  (< 0.7)
#   text matching 3 of an item's attrs  ≈ 3/(√3·√8) = 0.61 (≥ clip 0.2)
#   text matching nothing               ≈ 0      (< 0.2 → dropped)

ENTITY_WEIGHT = 2.0
# (attr, is_multi_valued): the attribute families that shape the space
ATTR_MIX_KEYS = (("color", False), ("type", False),
                 ("material", True), ("style", True))
_ATTR_VEC_CACHE: dict = {}


def attr_unit_vecs(attr: str, dim: int) -> tuple[dict, np.ndarray]:
    """({value: row}, (|vocab|, dim) unit vectors) for one attribute
    family — tiny (≤15 rows), cached per (attr, dim)."""
    key = (attr, dim)
    if key not in _ATTR_VEC_CACHE:
        from .. import taxonomy as tx

        vocab = {**tx.SCALAR_ATTRS, **tx.MULTI_ATTRS}[attr]
        _ATTR_VEC_CACHE[key] = (
            {v: i for i, v in enumerate(vocab)},
            embed_strings([f"attr:{attr}={v}" for v in vocab], dim))
    return _ATTR_VEC_CACHE[key]


def attr_mixture(attrs: dict, dim: int) -> np.ndarray:
    """attrs record (attrs_from_refs shape) → (n, dim) UN-normalized
    sum of the four attribute direction vectors. Multi-valued attrs
    contribute their first (primary) value. Vectorized: per family one
    fancy-index gather from the cached vocab table."""
    n = len(attrs["color"])
    out = np.zeros((n, dim), dtype=np.float32)
    for attr, multi in ATTR_MIX_KEYS:
        vals = attrs[attr]
        if multi:
            vals = [v[0] for v in vals]
        vmap, vecs = attr_unit_vecs(attr, dim)
        idx = np.fromiter((vmap[v] for v in vals), dtype=np.int64, count=n)
        out += vecs[idx]
    return out


def clip_text_vecs(texts, dim: int) -> np.ndarray:
    """text batch → (n, dim) L2-normalized joint-space embeddings (the
    CLIP text tower stand-in, src/models/embedding_model.py:154-197).

    Surface scan: normalize (lowercase, non-[a-z0-9-] → space, pad),
    then one vectorized ``np.char.find`` per vocabulary surface (≤50);
    each hit adds that attribute's direction vector. Texts with no
    vocabulary hit fall back to a stable per-string vector (≈ orthogonal
    to everything ⇒ below every retrieval threshold)."""
    import re

    texts = np.asarray(["" if t is None else str(t) for t in texts],
                       dtype="U")
    norm = np.array([" " + re.sub(r"[^a-z0-9\-]+", " ", t.lower()) + " "
                     for t in texts], dtype="U")
    n = len(texts)
    out = np.zeros((n, dim), dtype=np.float32)
    hit = np.zeros(n, dtype=bool)
    for attr, _multi in ATTR_MIX_KEYS:
        vmap, vecs = attr_unit_vecs(attr, dim)
        for v, i in vmap.items():
            surfaces = {v, v.replace("-", " ")} if "-" in v else {v}
            m = np.zeros(n, dtype=bool)
            for s in surfaces:
                m |= np.char.find(norm, f" {s} ") >= 0
            if m.any():
                out[m] += vecs[i]
                hit |= m
    if (~hit).any():
        out[~hit] = embed_strings(np.char.add("cliptxt:", texts[~hit]), dim)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return (out / norms).astype(np.float32)


def segment_labels_areas(keys) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (label, area) per media_ref — stand-in for the
    SegFormer mention detector (src/models/segmentation_model.py:83-129;
    area computed at src/engine/image_processor.py:116-117).

    ~5%% Background, ~10%% area below the MIN_AREA=1028 gate, so the
    P5/P6 filters (SURVEY §2.B) have real work to do.
    """
    from .. import taxonomy as tx

    h = hash64(keys)
    u_bg = rand_uniform(h, 1, lane=31)[:, 0]
    labels = pick(h, tx.SEGMENT_LABELS[1:], lane=32)
    labels = np.where(u_bg < 0.05, "Background", labels)
    u_area = rand_uniform(h, 1, lane=33)[:, 0]
    # 10% small segments in [0, 1028), rest in [1028, 200000)
    small = (u_area * 10.0) < 1.0
    area = np.where(
        small,
        (rand_uniform(h, 1, lane=34)[:, 0] * tx.MIN_AREA),
        tx.MIN_AREA + rand_uniform(h, 1, lane=35)[:, 0] * (200000 - tx.MIN_AREA),
    ).astype(np.int64)
    return labels, area
