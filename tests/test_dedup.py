import itertools
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.operators import dedup as dd

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango").split()


def _mk_corpus(n=60, seed=7):
    """Synthetic corpus with exact dups and near-dups (single-word edits)."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n):
        if i % 10 == 3:
            texts.append(texts[i - 1])                       # exact dup
        elif i % 10 == 7:
            base = texts[i - 2].split()
            j = int(rng.integers(0, len(base)))
            base[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(base))                     # near dup
        else:
            k = int(rng.integers(12, 25))
            texts.append(" ".join(
                WORDS[int(x)] for x in rng.integers(0, len(WORDS), k)))
    return [(i, t) for i, t in enumerate(texts)]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_mk_corpus(), "doc_id int, text string")


def _shingle_set(text, n=3):
    toks = [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).split() if t]
    if len(toks) < n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _brute_jaccard_pairs(rows, threshold, n=3):
    sets = {i: _shingle_set(t, n) for i, t in rows}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            out[(a, b)] = j
    return out


def test_exact_dedup(spark, corpus):
    got = dd.exact_dedup(corpus).collect()
    rows = _mk_corpus()
    norm = {}
    for i, t in rows:
        norm.setdefault(re.sub(r"[^a-z0-9]+", " ", t.lower()).strip(), []).append(i)
    assert len(got) == len(norm)
    exp_keep = {min(v) for v in norm.values()}
    assert {r["keep_id"] for r in got} == exp_keep
    assert sum(r["n_dups"] for r in got) == len(rows)


def test_jaccard_pairs_exact_matches_bruteforce(spark, corpus):
    thr = 0.5
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dd.jaccard_pairs_exact(corpus, threshold=thr).collect()}
    exp = _brute_jaccard_pairs(_mk_corpus(), thr)
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k])


def test_minhash_lsh_recall_and_precision(spark, corpus):
    thr = 0.5
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dd.minhash_lsh_pairs(
               corpus, threshold=thr, num_hashes=128, bands=32).collect()}
    exp = _brute_jaccard_pairs(_mk_corpus(), thr)
    # exact verification ⇒ precision 1.0 (every emitted pair is a true pair)
    assert set(got) <= set(exp)
    for k in got:
        assert got[k] == pytest.approx(exp[k])
    # banded LSH recall at J≥0.5 with 32 bands × 4 rows ≥ 0.95 expected
    recall = len(got) / max(len(exp), 1)
    assert recall >= 0.9, (recall, len(got), len(exp))


def test_minhash_arrow_kernel_matches_catalyst_spec(spark, corpus):
    """The one-pass Arrow MinHash kernel must produce bit-identical
    signatures to the relational Catalyst spec (posting explode →
    128 min-agg lanes) — including short docs (<n tokens → whole-doc
    shingle), repeated shingles, and empty/None docs (no row)."""
    extra = spark.createDataFrame(
        [(2000, ""), (2001, None), (2002, "alpha"), (2003, "alpha bravo"),
         (2004, "ALPHA, bravo! charlie alpha bravo charlie")],
        "doc_id int, text string")
    df = corpus.unionByName(extra).coalesce(2)
    a = {r["id"]: r["sig"] for r in dd.minhash_signature(
        df, "doc_id", "text", num_hashes=32).collect()}
    c = {r["id"]: r["sig"] for r in dd.minhash_signature_catalyst(
        df, "doc_id", "text", 3, 32).collect()}
    assert set(a) == set(c)                  # empty docs in neither
    assert 2000 not in a and 2001 not in a
    for k in c:
        assert a[k] == c[k], k


def test_shingle_posting_arrow_matches_catalyst_spec(spark, corpus):
    """The Arrow posting-list kernel (the hot path feeding jaccard and
    the LSH verify) must emit exactly the rows of the Catalyst spec
    (explode of tx.shingles + md5[:15] hash) — same multiset of
    (id, sh), including short docs, repeated shingles, and empty/None
    docs (no rows)."""
    extra = spark.createDataFrame(
        [(3000, ""), (3001, None), (3002, "alpha"), (3003, "alpha bravo"),
         (3004, "ALPHA, bravo! charlie alpha bravo charlie"),
         (3005, "a  b\tc a b c a b")],
        "doc_id int, text string")
    df = corpus.unionByName(extra).coalesce(2)
    a = sorted((r["id"], r["sh"]) for r in
               dd._shingle_posting(df, "doc_id", "text", 3).collect())
    c = sorted((r["id"], r["sh"]) for r in
               dd._shingle_posting_catalyst(df, "doc_id", "text", 3)
               .collect())
    assert a == c
    ids = {i for i, _ in a}
    assert 3000 not in ids and 3001 not in ids


def test_simhash_kernel_matches_python_spec(spark, corpus):
    """The mapInArrow kernel must agree bit-for-bit with the per-doc
    python spec (simhash_py) — including empty and repeated-token
    docs."""
    extra = spark.createDataFrame(
        [(1000, ""), (1001, None), (1002, "alpha alpha alpha"),
         (1003, "ALPHA, bravo!  bravo")],
        "doc_id int, text string")
    df = corpus.unionByName(extra)
    got = {r["id"]: r["simhash"] for r in dd.simhash_df(df).collect()}
    rows = _mk_corpus() + [(1000, ""), (1001, None),
                           (1002, "alpha alpha alpha"),
                           (1003, "ALPHA, bravo!  bravo")]
    for i, t in rows:
        assert got[i] == dd.simhash_py(t or ""), (i, t)


def test_simhash_kernel_trailing_empty_docs(spark):
    """Regression (round-2 advisor): a batch whose TRAILING docs are
    empty/None must not truncate the preceding non-empty doc's reduceat
    segment (the clamped-offset bug dropped its last token's ±1)."""
    rows = [(1, "alpha bravo charlie"), (2, ""), (3, None),
            (4, "delta echo"), (5, ""), (6, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string").coalesce(1)
    got = {r["id"]: r["simhash"] for r in dd.simhash_df(df).collect()}
    for i, t in rows:
        assert got[i] == dd.simhash_py(t or ""), (i, t)
    # the advisor's exact repro, as its own single batch
    df2 = spark.createDataFrame(
        [(1, "alpha bravo charlie"), (2, ""), (3, None)],
        "doc_id int, text string").coalesce(1)
    got2 = {r["id"]: r["simhash"] for r in dd.simhash_df(df2).collect()}
    assert got2[1] == dd.simhash_py("alpha bravo charlie")


def test_simhash_memo_cap_does_not_change_output(spark, monkeypatch):
    """The per-worker token memo is cleared past the cap; outputs must
    be identical (memo is a pure cache)."""
    monkeypatch.setattr(dd, "_TOKEN_MEMO_CAP", 8)
    rows = [(i, " ".join(f"tok{i}x{j}" for j in range(6)))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id int, text string") \
        .repartition(4)
    got = {r["id"]: r["simhash"] for r in dd.simhash_df(df).collect()}
    for i, t in rows:
        assert got[i] == dd.simhash_py(t)


def test_simhash_blocking_complete_at_small_radius(spark, corpus):
    """Pigeonhole: hamming ≤ 3 pairs must agree on ≥1 of 4 bands, so
    banded candidates at radius 3 are exhaustive. Verify against a
    brute-force cross join of the python-spec hashes."""
    rows = _mk_corpus()
    sh = {i: dd.simhash_py(t) for i, t in rows}
    exp = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        hd = bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
        if hd <= 3:
            exp[(a, b)] = hd
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dd.simhash_pairs(corpus, max_hamming=3).collect()}
    assert got == exp
    assert exp, "fixture should contain at least one simhash near-dup pair"


def test_simhash_identical_texts_distance_zero(spark, corpus):
    got = dd.simhash_pairs(corpus, max_hamming=0).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    # exact dup pairs planted at i%10==3 (dup of i-1)
    assert (2, 3) in pairs or (12, 13) in pairs


def test_embedding_near_dup_vs_numpy(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(20, 16)).astype(np.float32)
    vecs = list(base) + [base[i] + rng.normal(scale=0.01, size=16)
                         .astype(np.float32) for i in range(5)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {(r["id_a"], r["id_b"]) for r in
           dd.embedding_near_dup_auto(df, threshold=0.95).collect()}
    m = np.stack([np.asarray(v, dtype=np.float64) for _, v in rows])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    exp = {(i, j) for i in range(len(rows)) for j in range(i + 1, len(rows))
           if sims[i, j] >= 0.95}
    assert got == exp
    assert len(exp) >= 5


def test_embedding_near_dup_matmul_equals_numpy(spark):
    rng = np.random.default_rng(12)
    base = rng.normal(size=(30, 16)).astype(np.float32)
    vecs = list(base) + [base[i] + rng.normal(scale=0.01, size=16)
                         .astype(np.float32) for i in range(8)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m = np.stack([np.asarray(v, dtype=np.float64) for _, v in rows])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    exp = {(i, j): sims[i, j] for i in range(len(rows))
           for j in range(i + 1, len(rows)) if sims[i, j] >= 0.9}
    mat = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in dd.embedding_near_dup_matmul(df, threshold=0.9).collect()}
    assert set(exp) == set(mat) and exp
    for k in exp:
        assert exp[k] == pytest.approx(mat[k], abs=1e-12)


def test_semantic_dedup_is_cluster_blocked_subset(spark):
    """SemDeDup pairs = exact pair set restricted to same-cluster pairs
    (the paper's trade: within-cluster recall is 1.0, cross-cluster
    recall is 0 by construction)."""
    from fashion_knowledge_graph_spark.operators.clustering import (
        kmeans_assign,
    )

    rng = np.random.default_rng(13)
    # 3 well-separated blobs + planted near-dups inside blobs
    centers = rng.normal(size=(3, 16)) * 8
    vecs = []
    for i in range(36):
        vecs.append(centers[i % 3] + rng.normal(scale=0.3, size=16))
    for i in range(6):
        vecs.append(vecs[i] + rng.normal(scale=0.002, size=16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {(r["id_a"], r["id_b"]) for r in
           dd.semantic_dedup(df, k=3, iterations=2,
                             threshold=0.999).collect()}
    # exact ground truth
    m = np.stack([np.asarray(v, dtype=np.float64) for _, v in rows])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    exact = {(i, j) for i in range(len(rows))
             for j in range(i + 1, len(rows)) if sims[i, j] >= 0.999}
    cl = {r["vec_id"]: r["cluster"] for r in
          kmeans_assign(df, k=3, iterations=2).collect()}
    expected = {(a, b) for a, b in exact if cl[a] == cl[b]}
    assert got == expected
    assert len(got) >= 6          # the planted dups are found
    assert got.issubset(exact)


def test_embedding_near_dup_auto_dispatch_and_string_ids(spark,
                                                        monkeypatch):
    """Over-budget corpora must take the LSH path (no driver collect),
    and string id columns must work on every path."""
    from fashion_knowledge_graph_spark.operators import linking as lk

    rng = np.random.default_rng(13)
    base = rng.normal(size=(40, 16)).astype(np.float32)
    vecs = list(base) + [base[i] + rng.normal(scale=0.005, size=16)
                         .astype(np.float32) for i in range(10)]
    rows = [(f"v{i:04d}", [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    m = np.stack([np.asarray(v, dtype=np.float64) for _, v in rows])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    exp = {(f"v{i:04d}", f"v{j:04d}")
           for i in range(len(rows)) for j in range(i + 1, len(rows))
           if sims[i, j] >= 0.95}
    assert len(exp) >= 10
    # matmul path with string ids
    got_mat = {(r["id_a"], r["id_b"]) for r in
               dd.embedding_near_dup_matmul(df, threshold=0.95).collect()}
    assert got_mat == exp
    # under budget the auto path is the exact matmul result
    got_auto = {(r["id_a"], r["id_b"]) for r in
                dd.embedding_near_dup_auto(df, threshold=0.95).collect()}
    assert got_auto == exp
    # forced LSH path (budget 0): near-identical pairs ⇒ recall ≈ 1
    monkeypatch.setattr(lk, "BROADCAST_BUDGET_MB", 0)
    got_lsh = {(r["id_a"], r["id_b"]) for r in
               dd.embedding_near_dup_auto(df, threshold=0.95).collect()}
    assert got_lsh <= exp
    assert len(got_lsh) >= 0.9 * len(exp)


@pytest.mark.parametrize("budget_mb", [256, 0])
def test_embedding_near_dup_auto_empty_corpus(spark, monkeypatch,
                                              budget_mb):
    """An empty corpus yields an empty, typed pair set under the driver
    budget and past it."""
    from fashion_knowledge_graph_spark.operators import linking as lk

    monkeypatch.setattr(lk, "BROADCAST_BUDGET_MB", budget_mb)
    df = spark.createDataFrame([], "vec_id string, embedding array<float>")
    out = dd.embedding_near_dup_auto(df, threshold=0.95)
    assert out.collect() == []
    assert out.schema.simpleString() == \
        "struct<id_a:string,id_b:string,cosine:double>"


def test_dedup_keep_components(spark, corpus):
    pairs = dd.jaccard_pairs_exact(corpus, threshold=0.5)
    keep = dd.dedup_keep(corpus, pairs)
    got = {r["doc_id"]: r["keep_id"] for r in keep.collect()}
    # union-find oracle
    parent = {i: i for i, _ in _mk_corpus()}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b) in _brute_jaccard_pairs(_mk_corpus(), 0.5):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {i: find(i) for i, _ in _mk_corpus()}
    assert got == exp


def test_decontaminate_matches_bruteforce(spark, corpus):
    # bench split = doc_id % 7 == 0 (corpus has exact + near dups, so
    # cross-split 3-gram overlap is guaranteed non-vacuous)
    rows = _mk_corpus()
    bench = {i: _shingle_set(t, 3) for i, t in rows if i % 7 == 0}
    train = {i: _shingle_set(t, 3) for i, t in rows if i % 7 != 0}
    expect = {}
    for i, sh in train.items():
        hit_sh = set()
        hit_docs = 0
        for b, bs in bench.items():
            inter = sh & bs
            if inter:
                hit_sh |= inter
                hit_docs += 1
        if hit_sh:
            expect[i] = (len(hit_sh), hit_docs, len(sh),
                         round(len(hit_sh) / len(sh), 6))
    assert expect, "fixture must produce contamination"

    df = corpus
    out = dd.decontaminate(
        df.filter(F.col("doc_id") % 7 != 0),
        df.filter(F.col("doc_id") % 7 == 0), n=3).collect()
    got = {r["id"]: (r["n_hit_shingles"], r["n_bench_docs"],
                     r["train_shingles"],
                     round(r["contamination_frac"], 6)) for r in out}
    assert got == expect


def test_decontaminate_no_overlap_is_empty(spark):
    train = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo")], "doc_id int, text string")
    bench = spark.createDataFrame(
        [(2, "zulu yankee xray whiskey victor")], "doc_id int, text string")
    assert dd.decontaminate(train, bench, n=3).count() == 0


def test_jaccard_prefix_equals_exact_and_prunes(spark, corpus):
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 6)
           for r in dd.jaccard_pairs_prefix(
               corpus, threshold=0.5).collect()}
    want = {(r["id_a"], r["id_b"]): round(r["jaccard"], 6)
            for r in dd.jaccard_pairs_exact(
                corpus, threshold=0.5).collect()}
    assert got == want and want

    pruned, full = dd._prefix_candidate_count(
        corpus, "doc_id", "text", 3, 0.5)
    assert pruned < full, (pruned, full)


def test_duplicated_span_stats(spark):
    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, shared + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, shared + " iota kappa lambda mu nu xi omicron pi rho"),
        (3, "totally different words that appear nowhere else at all "
            "more unique filler tokens here"),
        (4, "tiny doc"),                      # <10 tokens → 1 window
        (5, "tiny doc"),                      # whole-doc dup of 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in
           dd.duplicated_span_stats(df, n=10, min_docs=2).collect()}
    # docs 1/2 share exactly the one window starting at token 1
    # (windows shifted by ≥1 include doc-specific words)
    assert out[1]["n_dup_windows"] == 1 and out[2]["n_dup_windows"] == 1
    assert out[1]["n_windows"] == 9          # 18 tokens → 9 windows
    assert out[3]["n_dup_windows"] == 0
    assert out[4]["n_windows"] == 1 and out[4]["dup_frac"] == 1.0
    assert out[5]["dup_frac"] == 1.0


def test_prefix_overlap_ceiling_is_fp_safe(spark):
    # IEEE 0.07*100 = 7.000000000000001 → a bare ceil gives 8 and
    # would shorten the prefix, silently dropping true pairs; the
    # epsilon-guarded form must give exactly 7 (and stay correct for
    # genuine non-integers)
    row = spark.range(1).select(
        F.ceil(F.lit(0.07) * F.lit(100) - F.lit(1e-9)).alias("guarded"),
        F.ceil(F.lit(0.07) * F.lit(100)).alias("naive"),
        F.ceil(F.lit(0.073) * F.lit(100) - F.lit(1e-9)).alias("frac"),
    ).collect()[0]
    assert row["naive"] == 8          # documents the hazard
    assert row["guarded"] == 7
    assert row["frac"] == 8

    # end-to-end: prefix join stays exact at the hazardous threshold
    got = {(r["id_a"], r["id_b"]) for r in dd.jaccard_pairs_prefix(
        _corpus_df(spark), threshold=0.07).collect()}
    want = {(r["id_a"], r["id_b"]) for r in dd.jaccard_pairs_exact(
        _corpus_df(spark), threshold=0.07).collect()}
    assert got == want and want


def _corpus_df(spark):
    return spark.createDataFrame(_mk_corpus(), "doc_id int, text string")


def test_jaccard_prefix_length_filter_prunes_but_stays_exact(spark):
    from pyspark.sql import functions as F

    from fashion_knowledge_graph_spark.operators import dedup as dd

    # a short doc inside a much longer one: shares rare shingles (so
    # the prefix index WILL propose the pair) but can never reach
    # J >= 0.5 against 4x its size — the length filter must drop it
    # before verify, without changing the final (exact) output
    short = "zq zr zs zt zu"
    long = ("zq zr zs zt zu " + "filler one two three " * 6).strip()
    twin_a = "aa bb cc dd ee ff gg"
    twin_b = "aa bb cc dd ee ff hh"
    # padding docs make the filler shingles COMMON (high df), so the
    # zq-run shingles are doc 2's rarest and land in its prefix —
    # the pair (1,2) then IS a prefix candidate and only the length
    # filter removes it
    pad = [(10 + i, ("filler one two three " * 6).strip())
           for i in range(6)]
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, twin_a), (4, twin_b)] + pad,
        "doc_id long, text string")
    got = {(r.id_a, r.id_b): round(r.jaccard, 6) for r in
           dd.jaccard_pairs_prefix(df, threshold=0.5).collect()}
    want = {(r.id_a, r.id_b): round(r.jaccard, 6) for r in
            dd.jaccard_pairs_exact(df, threshold=0.5).collect()}
    assert got == want                   # exactness preserved
    assert (1, 2) not in got             # size-skewed pair gone
    assert (3, 4) in got                 # near-twins survive
    # and the candidate set actually shrank: the (1,2) pair IS a
    # prefix candidate (shared rare shingles) yet never reaches verify
    post, prefix = dd._prefix_index(df, "doc_id", "text", 3, 0.5)
    a = prefix.select(F.col("id").alias("id_a"), "sh",
                      F.col("sz").alias("sz_a"))
    b = prefix.select(F.col("id").alias("id_b"), "sh",
                      F.col("sz").alias("sz_b"))
    raw = {(r.id_a, r.id_b) for r in
           a.join(b, "sh").filter(F.col("id_a") < F.col("id_b"))
           .select("id_a", "id_b").distinct().collect()}
    assert (1, 2) in raw


def test_minhash_incremental_equals_from_scratch(spark, corpus):
    """Seed pairs from part of the corpus, fold the rest in via the
    probe-restricted band join — the union must EXACTLY equal a
    from-scratch run over the full corpus (deterministic signatures:
    old-old collisions are unaffected by growth)."""
    from pyspark.sql import functions as F

    kw = dict(threshold=0.5, num_hashes=128, bands=32)
    seed = corpus.filter(F.crc32(F.col("doc_id").cast("string")) % 3 < 2)
    new = corpus.filter(F.crc32(F.col("doc_id").cast("string")) % 3 >= 2)
    assert 0 < new.count() < corpus.count()
    old_pairs = dd.minhash_lsh_pairs(seed, **kw)
    got = dd.minhash_lsh_pairs_incremental(corpus, new, old_pairs, **kw)
    exp = dd.minhash_lsh_pairs(corpus, **kw)
    g = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
         for r in got.collect()}
    e = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
         for r in exp.collect()}
    assert g == e and e
