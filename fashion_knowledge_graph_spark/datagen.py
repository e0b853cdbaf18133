"""Deterministic synthetic fixture generator (FIXTURES.md).

Generates the three domain tables the KG pipeline consumes, at any
scale, seeded — no network, no wall clock:

- ``docs``     : interleaved text + media documents, exactly the
                 ``input_hint`` shape
                 (doc_id, spans:array<struct<kind,text,media_ref,offset>>)
- ``catalog``  : product dimension mirroring the reference's
                 output/data/catalog_combined.csv plus node attributes
                 (src/engine/process_catalog.py:45-50)
- ``taxonomy`` : closed-vocabulary dim (taxonomy.py)

World model (what makes expected outputs computable):

Every *entity* k has a content key ``ent{k:08d}``. Media references
encode content: ``img://ent00000042`` is the entity's base photo;
``img://ent00000042#s3`` is a social-media variant (same garment,
slightly perturbed embedding); ``img://noise...`` is an unknown
garment (links below threshold → dropped). ``content_embed`` maps any
media_ref to its 512-d embedding; ``attrs_from_refs`` on the *base*
key gives the garment's closed-vocabulary attributes — so datagen,
the pandas oracle, and the Spark UDFs all agree exactly.

~DUP_FRAC of catalog rows are near-duplicate listings of an earlier
entity (perturbed embedding, same attributes) — the connected-
components canonicalization target.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from . import taxonomy as tx
from .functions import hashing as hx

DUP_FRAC = 0.10      # fraction of catalog rows duplicating an earlier entity
NOISE_FRAC = 0.15    # fraction of image spans referencing unknown garments
VARIANT_EPS = 0.02   # social-media photo perturbation
DUP_EPS = 0.005      # duplicate-listing perturbation (cos ≈ 0.996 vs
                     # base — comfortably above the 0.98 dup threshold)

# category derives from type — the reference's catalog categories are
# tops/bottoms/all-body (src/engine/data_preprocessing.py:23)
TYPE_TO_CATEGORY = {
    "top": "tops", "jacket": "tops", "scarf": "tops",
    "bottom": "bottoms", "shoes": "bottoms", "belt": "bottoms",
    "dress": "all-body", "bag": "all-body", "hat": "all-body",
    "sunglasses": "all-body",
}


def split_ref(refs) -> tuple[np.ndarray, np.ndarray]:
    """media_ref → (base content key, variant suffix or '').

    Vectorized ``np.char.partition`` — this runs inside the Arrow UDF
    hot path, so no per-row Python."""
    a = np.asarray(refs, dtype="U")
    parts = np.char.partition(a, "#")
    return parts[:, 0], parts[:, 2]


def content_embed(refs) -> np.ndarray:
    """media_ref → 512-d L2-normalized embedding (CLIP stand-in,
    src/models/embedding_model.py:80-197).

    Joint-space structure (hashing.attr_mixture docstring has the
    cosine geometry): attribute direction vectors + ENTITY_WEIGHT × a
    per-entity vector, so CLIP-text queries retrieve attribute-matching
    items while entity identity still dominates linking/dedup.
    Variants of an entity get a small deterministic perturbation:
    ``#d*`` (duplicate catalog listing) uses DUP_EPS, ``#s*``
    (social-media photo) uses VARIANT_EPS."""
    refs = np.asarray(refs, dtype="U")
    base, var = split_ref(refs)
    attrs = hx.attrs_from_refs(base)
    ent = hx.embed_strings(np.char.add("imgcontent:", base), tx.IMG_DIM)
    v = hx.attr_mixture(attrs, tx.IMG_DIM) + hx.ENTITY_WEIGHT * ent
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    vecs = (v / norms).astype(np.float32)
    for eps, prefix in ((DUP_EPS, "d"), (VARIANT_EPS, "s")):
        sel = np.char.startswith(var, prefix)
        if sel.any():
            hv = hx.hash64(refs[sel])
            vecs[sel] = hx.perturb(vecs[sel], hv, eps)
    return vecs


def base_attrs(refs) -> dict:
    """Garment attributes from the *base* content key, so every variant
    / duplicate of an entity shares attributes."""
    base, _ = split_ref(refs)
    return hx.attrs_from_refs(base)


def gen_catalog(n_products: int, seed: int = 42) -> pd.DataFrame:
    """Catalog dim. Row i is a duplicate listing of an earlier entity
    with prob DUP_FRAC (deterministic via hash lanes)."""
    ids = np.array([f"p{i:07d}" for i in range(n_products)], dtype=object)
    h = hx.hash64([f"cat:{seed}:{i}" for i in range(n_products)])
    is_dup = hx.rand_uniform(h, 1, lane=41)[:, 0] < DUP_FRAC
    is_dup[0] = False
    # entity index: self for originals; an earlier row's entity for dups
    ent_idx = np.arange(n_products)
    if is_dup.any():
        u = hx.rand_uniform(h, 1, lane=42)[:, 0]
        src = (u * np.maximum(np.arange(n_products), 1)).astype(np.int64)
        parent = np.where(is_dup, src, ent_idx)
        # chase dup-of-dup chains to their original (fixpoint)
        ent_idx = parent
        while True:
            nxt = parent[ent_idx]
            if (nxt == ent_idx).all():
                break
            ent_idx = nxt
    ent_key = np.array([f"ent{e:08d}" for e in ent_idx], dtype=object)
    media = np.array(
        [f"img://{e}" + (f"#d{i}" if d else "")
         for i, (e, d) in enumerate(zip(ent_key, is_dup))],
        dtype=object,
    )
    vecs = content_embed(media)
    attrs = hx.attrs_from_refs(["img://" + e for e in ent_key])
    labels, _ = hx.segment_labels_areas(media)
    style_desc = np.array(
        [f"A {c} {m[0]} {t} with a {f} fit."
         for c, m, t, f in zip(attrs["color"], attrs["material"],
                               attrs["type"], attrs["fit"])],
        dtype=object,
    )
    # "txt:" prefix == functions/embeddings.text_embed_udf's prefix: the
    # catalog style vector IS the MiniLM embedding of its description,
    # so outfit-from-text's style path scores 1.0 on exact descriptions
    # (round-1 used a mismatched "style:" prefix → the path was dead)
    style_vecs = hx.embed_strings(["txt:" + s for s in style_desc], tx.TXT_DIM)
    pdf = pd.DataFrame({
        "product_id": ids,
        "image_path": media,
        "category": [TYPE_TO_CATEGORY[t] for t in attrs["type"]],
        "type": attrs["type"],
        "color": attrs["color"],
        "style": attrs["style"],
        "season": attrs["season"],
        "occasion": attrs["occasion"],
        "price": attrs["price"],
        "material": attrs["material"],
        "fit": attrs["fit"],
        "gender": attrs["gender"],
        "age_group": attrs["age_group"],
        "segmented_label": labels,
        "style_description": style_desc,
        "embedding": list(vecs.astype(np.float32)),
        "style_embedding": list(style_vecs.astype(np.float32)),
        "entity_key": ent_key,  # ground truth for CC tests (not read by pipeline)
    })
    return pdf


_TEXT_TMPL = "{color} {material} {style} {type} for {season} {occasion}"


def gen_docs(n_docs: int, catalog: pd.DataFrame, seed: int = 42) -> pd.DataFrame:
    """Interleaved docs. Each doc: 1–4 image spans (media_refs that are
    social-media variants of catalog entities, Zipf-popular, or noise)
    interleaved with 1–4 templated text spans; offsets strictly
    increasing (per-row span-sequence invariant)."""
    n_prod = len(catalog)
    cat_media = catalog["image_path"].to_numpy()
    base_keys, _ = split_ref(cat_media)

    doc_ids = np.array([f"doc_{i:08d}" for i in range(n_docs)], dtype=object)
    h = hx.hash64([f"doc:{seed}:{i}" for i in range(n_docs)])
    n_img = 1 + (hx.rand_uniform(h, 1, lane=51)[:, 0] * 4).astype(int)   # 1..4
    n_txt = 1 + (hx.rand_uniform(h, 1, lane=52)[:, 0] * 4).astype(int)   # 1..4

    rows = []
    for i in range(n_docs):
        hd = h[i]
        spans = []
        # image spans: pick catalog products Zipf-ish (popular entities
        # co-occur across docs ⇒ edge weights > 1)
        hi = (np.full(n_img[i], hd, dtype=np.uint64)
              + np.arange(n_img[i], dtype=np.uint64) * np.uint64(1299721))
        ui = hx.rand_uniform(hi, 3, lane=53)
        for k in range(n_img[i]):
            if ui[k, 0] < NOISE_FRAC:
                ref = f"img://noise{int(ui[k, 1] * 1e9):09d}"
            else:
                # quadratic skew toward low product indices
                pidx = int((ui[k, 1] ** 2) * n_prod) % n_prod
                ref = f"{base_keys[pidx]}#s{int(ui[k, 2] * 4)}"
            spans.append(("image_ref", None, ref))
        # text spans: templated sentences over Zipf-skewed vocab
        ht = np.full(n_txt[i], hd, dtype=np.uint64) + np.arange(
            n_txt[i], dtype=np.uint64) * np.uint64(977)
        t_color = hx.pick_zipf(ht, tx.COLORS, lane=61)
        t_mat = hx.pick_zipf(ht, tx.MATERIALS, lane=62)
        t_style = hx.pick(ht, tx.STYLES, lane=63)
        t_type = hx.pick(ht, tx.TYPES, lane=64)
        t_season = hx.pick(ht, tx.SEASONS, lane=65)
        t_occ = hx.pick(ht, tx.OCCASIONS, lane=66)
        for k in range(n_txt[i]):
            txt = _TEXT_TMPL.format(
                color=t_color[k], material=t_mat[k], style=t_style[k],
                type=t_type[k], season=t_season[k], occasion=t_occ[k])
            spans.append(("text", txt, None))
        # deterministic interleave + strictly increasing offsets
        order = hx.rand_uniform(
            np.full(len(spans), hd, dtype=np.uint64)
            + np.arange(len(spans), dtype=np.uint64) * np.uint64(31),
            1, lane=67)[:, 0]
        perm = np.argsort(order, kind="stable")
        off = 0
        out_spans = []
        for j in perm:
            kind, text, ref = spans[j]
            out_spans.append(
                {"kind": kind, "text": text, "media_ref": ref, "offset": off})
            off += (len(text) if text else 64) + 1
        rows.append({"doc_id": doc_ids[i], "spans": out_spans})
    return pd.DataFrame(rows)


def _spans_arrow_type():
    import pyarrow as pa

    return pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))


def write_fixtures(out_dir: str, n_docs: int = 2000, n_products: int = 500,
                   seed: int = 42) -> dict[str, str]:
    """Materialize docs/catalog/taxonomy parquet under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    catalog = gen_catalog(n_products, seed)
    docs = gen_docs(n_docs, catalog, seed)
    taxo = tx.taxonomy_pdf()

    paths = {}
    # docs: build arrow table explicitly so the nested spans type is exact
    spans_arr = pa.array(docs["spans"].tolist(), type=_spans_arrow_type())
    t_docs = pa.table({"doc_id": pa.array(docs["doc_id"].tolist(), pa.string()),
                       "spans": spans_arr})
    paths["docs"] = os.path.join(out_dir, "docs.parquet")
    pq.write_table(t_docs, paths["docs"])

    cat = catalog.copy()
    cat["embedding"] = cat["embedding"].map(list)
    cat["style_embedding"] = cat["style_embedding"].map(list)
    paths["catalog"] = os.path.join(out_dir, "catalog.parquet")
    pq.write_table(pa.Table.from_pandas(cat, preserve_index=False),
                   paths["catalog"])

    tax = taxo.copy()
    tax["embedding"] = tax["embedding"].map(list)
    paths["taxonomy"] = os.path.join(out_dir, "taxonomy.parquet")
    pq.write_table(pa.Table.from_pandas(tax, preserve_index=False),
                   paths["taxonomy"])
    return paths
