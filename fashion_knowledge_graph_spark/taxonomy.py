"""Closed fashion-attribute vocabularies and the canonical taxonomy dim.

Vocabularies are verbatim from the reference's LLM prompt
(/root/reference/src/utils/prompts.py:4-13) — they are the closed
value sets GPT-4o was instructed to emit, and therefore the complete
set of objects that ``hasColor`` / ``hasMaterial`` / ``hasStyle`` (and
the scalar-attribute) triples can carry. The segmentation label set is
from /root/reference/src/config/settings.py:117-127.

The taxonomy is a *small dimension* (≈80 canonical values). At any
scale it broadcasts; its embeddings are used as the right side of the
entity-linking join (operators/linking.py).
"""

from __future__ import annotations

# --- closed vocabularies (reference: src/utils/prompts.py:4-13) ---
TYPES = [
    "top", "bottom", "dress", "jacket", "shoes",
    "sunglasses", "bag", "hat", "scarf", "belt",
]
COLORS = [
    "red", "blue", "black", "white", "gray", "green", "yellow",
    "pink", "purple", "orange", "brown", "beige", "multi-color",
]
STYLES = ["casual", "formal", "sporty", "business", "party", "beach"]
SEASONS = ["spring", "summer", "autumn", "winter", "all-season"]
OCCASIONS = [
    "casual", "business", "party", "wedding", "sports",
    "travel", "work", "school", "evening", "holiday",
]
PRICES = ["low", "medium", "high"]
MATERIALS = [
    "cotton", "denim", "leather", "silk", "wool", "linen", "polyester",
    "nylon", "cashmere", "satin", "lace", "fur", "suede", "velvet", "canvas",
]
FITS = ["slim", "regular", "loose", "oversized", "skinny", "relaxed"]
GENDERS = ["men", "women", "unisex"]
AGE_GROUPS = ["adult", "teen", "child"]

# reference: src/config/settings.py:117-127 (SegFormer label map)
SEGMENT_LABELS = [
    "Background", "Sunglasses", "Upper-clothes", "Skirt",
    "Pants", "Dress", "Belt", "Bag", "Scarf",
]

# multi-valued vs scalar attributes (reference JSON template,
# src/utils/prompts.py:15-28)
MULTI_ATTRS = {"style": STYLES, "season": SEASONS,
               "occasion": OCCASIONS, "material": MATERIALS}
SCALAR_ATTRS = {"type": TYPES, "color": COLORS, "price": PRICES,
                "fit": FITS, "gender": GENDERS, "age_group": AGE_GROUPS}

# attribute name -> triple predicate. The three predicates the
# north_rule names explicitly get `has*` names; the rest keep the
# attribute name as predicate.
PREDICATES = {
    "color": "hasColor",
    "material": "hasMaterial",
    "style": "hasStyle",
    "type": "type",
    "season": "season",
    "occasion": "occasion",
    "price": "price",
    "fit": "fit",
    "gender": "gender",
    "age_group": "age_group",
}

# The text-mention lexicon: predicates extracted from free text spans.
# Only the three headline predicates are lexicon-scanned (they have
# distinctive surface forms; 'casual' etc. collide between style and
# occasion, reference resolves via LLM context we don't have).
LEXICON_PREDS = {"color": COLORS, "material": MATERIALS, "style": STYLES}

# area threshold for a segment/mention to count
# (reference: src/engine/image_processor.py:117-119)
MIN_AREA = 1028

# linking gates (reference: src/engine/process_social_media_images.py:18,85,95);
# top-5 bounds only the candidates ranked before rank 1 is threshold-checked,
# so it cannot change a link — only the pandas oracle still applies it
LINK_TOP_K = 5
LINK_THRESHOLD = 0.7

# recommendation defaults (reference: src/inference/recommender.py:95-96)
RECO_TOP_K = 5
RECO_WEIGHT_THRESHOLD = 1

# RRF constant (reference: src/inference/recommender.py:535)
RRF_K = 60

IMG_DIM = 512    # CLIP image space  (scripts/setup_pinecone.py:35-39)
TXT_DIM = 384    # MiniLM text space (scripts/setup_pinecone.py:40-44)


# --- ontology hierarchy (graft extension; the reference's taxonomy is
# flat — src/utils/prompts.py:4-13 — so the class hierarchy below is a
# deterministic grouping of those same closed values, used by the RDFS
# entailment / transitive-closure operators in operators/ontology.py) ---
COLOR_GROUPS = {
    "red": "warm", "orange": "warm", "yellow": "warm", "pink": "warm",
    "brown": "warm",
    "blue": "cool", "green": "cool", "purple": "cool",
    "black": "neutral", "white": "neutral", "gray": "neutral",
    "beige": "neutral",
    "multi-color": "multi",
}
MATERIAL_GROUPS = {
    "cotton": "plant-fiber", "denim": "plant-fiber",
    "linen": "plant-fiber", "canvas": "plant-fiber",
    "leather": "animal", "silk": "animal", "wool": "animal",
    "cashmere": "animal", "fur": "animal", "suede": "animal",
    "polyester": "synthetic", "nylon": "synthetic", "satin": "synthetic",
    "lace": "synthetic", "velvet": "synthetic",
}
# predicate whose objects the hierarchy classifies -> entailed predicate
ENTAILED_PREDICATES = {
    "hasColor": "hasColorClass",
    "hasMaterial": "hasMaterialClass",
}


def hierarchy_edges() -> list[tuple[str, str]]:
    """Direct subClassOf edges (child, parent): every color/material
    value -> its group, every group -> its attribute root. Depth-2 DAG;
    transitive closure entails value -> root as well."""
    edges: list[tuple[str, str]] = []
    for v, g in sorted(COLOR_GROUPS.items()):
        edges.append((v, g))
    for g in sorted(set(COLOR_GROUPS.values())):
        edges.append((g, "color"))
    for v, g in sorted(MATERIAL_GROUPS.items()):
        edges.append((v, g))
    for g in sorted(set(MATERIAL_GROUPS.values())):
        edges.append((g, "material"))
    return edges


def taxonomy_rows() -> list[tuple[str, str, list[str]]]:
    """(pred, value, aliases) rows for every closed-vocabulary value.

    Aliases are deterministic surface-form variants used by the
    mention linker; the canonical value is always its own alias.
    """
    rows: list[tuple[str, str, list[str]]] = []
    for attr, values in {**SCALAR_ATTRS, **MULTI_ATTRS}.items():
        pred = PREDICATES[attr]
        for v in values:
            aliases = [v]
            if "-" in v:
                aliases.append(v.replace("-", " "))
            rows.append((pred, v, aliases))
    return rows


def taxonomy_pdf():
    """Taxonomy as a pandas DataFrame with hash-derived embeddings
    (384-d text space), L2-normalized so cosine ≡ dot."""
    import pandas as pd

    from .functions.hashing import embed_strings

    rows = taxonomy_rows()
    pdf = pd.DataFrame(rows, columns=["pred", "value", "aliases"])
    keys = ("tax:" + pdf["pred"] + ":" + pdf["value"]).to_numpy()
    vecs = embed_strings(keys, TXT_DIM)
    pdf["embedding"] = list(vecs.astype("float32"))
    return pdf

