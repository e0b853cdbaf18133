"""Deduplication operators for training-data pipelines.

Five dedup families, each picked for a different scale/precision
trade-off, all expressed over DataFrames so Catalyst keeps pushdown /
pruning / AQE:

- ``exact_dedup``          — hash-groupBy on normalized content; one
                             shuffle, exact.
- ``jaccard_pairs_exact``  — word-shingle Jaccard via an
                             **inverted-index join** (explode shingle →
                             equi-join on shingle → count common per
                             pair). Never materializes the cross
                             product: cost is Σ df(shingle)².
- ``minhash_lsh_pairs``    — MinHash signatures + banded LSH blocking,
                             exact-Jaccard verification of candidates.
                             The 100 TB path: cost linear in corpus +
                             Σ block².
- ``simhash_pairs``        — 64-bit SimHash, banded blocking on 4×16
                             bit keys, Hamming-distance verify with
                             ``bit_count(xor)`` (JVM-side).
- ``embedding_near_dup_auto`` — cosine-threshold self-join over an
                             embedding column behind linking's
                             driver-fit byte gate: the exact broadcast
                             matmul, or past the budget the package's
                             one blocked cosine self-join,
                             ``components.near_duplicate_pairs``
                             (which ``semantic_dedup`` blocks on
                             k-means clusters).

All pair emitters return canonical ``id_a < id_b`` pairs. ``dedup_keep``
turns any pair set into a keep/drop decision via connected components
(min-id wins), reusing ``components.connected_components``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as tx
from . import components as cc
from . import linking as lk


# ---------------------------------------------------------------- exact
def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the min-id representative per identical normalized content.

    groupBy on the md5 fingerprint (not the full text) keeps shuffle
    rows narrow at 100 TB; collisions are md5-improbable. Output:
    (fingerprint, keep_id, n_dups)."""
    return df.select(
        tx.fingerprint_md5(F.col("text")).alias("fingerprint"),
        F.col("doc_id")
    ).groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"))


# ---------------------------------------------- n-gram Jaccard (exact)
def _shingle_lists(texts: list, n: int) -> list[list[str]]:
    """Distinct word-``n``-gram shingles per text — the single Python
    definition of shingling shared by every Arrow kernel (posting list,
    MinHash signatures), semantically identical to the Catalyst spec
    ``functions/text.shingles``: tokenize on ``[^a-z0-9]+`` lowercase,
    full n-grams when ≥ n tokens, else the whole doc as one shingle,
    else none."""
    import re

    out = []
    for s in texts:
        toks = [t for t in re.sub(r"[^a-z0-9]+", " ", (s or "").lower())
                .split(" ") if t]
        if len(toks) >= n:
            sh = list({" ".join(toks[i:i + n])
                       for i in range(len(toks) - n + 1)})
        elif toks:
            sh = [" ".join(toks)]
        else:
            sh = []
        out.append(sh)
    return out


def _shingle_posting_catalyst(df: DataFrame, id_col: str, text_col: str,
                              n: int) -> DataFrame:
    """(id, shingle_hash) posting list — the pure-Catalyst relational
    SPEC (explode of ``tx.shingles`` + md5 shingle hash). Kept as the
    semantic reference the Arrow kernel is parity-tested against; the
    nested ``zip_with`` n-gram build is an interpreted higher-order
    function (~6 ms/doc measured — 30 s of CPU per evaluation at
    sf0.1), so hot paths use ``_shingle_posting`` (Arrow) instead."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(tx.shingles(F.col(text_col), n)).alias("shingle")
    ).select("id", tx.shingle_hash(F.col("shingle")).alias("sh"))


def _shingle_posting(df: DataFrame, id_col: str, text_col: str,
                     n: int) -> DataFrame:
    """(id, sh) posting list (distinct shingles per doc) via ONE
    ``mapInArrow`` kernel — identical rows to
    ``_shingle_posting_catalyst`` (same tokenizer, same 60-bit
    md5[:15] shingle hash, so DuckDB oracles replay it unchanged),
    but the n-gram build + digest run in Python/numpy with a
    per-worker memo instead of interpreted Catalyst lambdas
    (measured ~40× less CPU per evaluation). Rows with no shingles
    emit nothing, exactly like the explode."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("id", df.schema[id_col].dataType),
        T.StructField("sh", T.LongType()),
    ])
    memo: dict[str, int] = {}
    memo_cap = _TOKEN_MEMO_CAP

    def kernel(batches):
        for rb in batches:
            texts = rb.column(text_col).to_pylist()
            if not texts:
                continue
            sh_lists = _shingle_lists(texts, n)
            counts = np.asarray([len(s) for s in sh_lists], dtype=np.int64)
            flat = [s for sh in sh_lists for s in sh]
            if not flat:
                continue
            if len(memo) > memo_cap:
                memo.clear()
            for s in flat:
                if s not in memo:
                    memo[s] = int(
                        hashlib.md5(s.encode()).hexdigest()[:15], 16)
            vals = np.fromiter((memo[s] for s in flat), dtype=np.int64,
                               count=len(flat))
            idx = np.repeat(np.arange(len(texts), dtype=np.int64), counts)
            ids = rb.column(id_col).take(pa.array(idx))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(vals)],
                schema=pa.schema([("id", ids.type), ("sh", pa.int64())]))

    return df.select(F.col(id_col), F.col(text_col)) \
        .mapInArrow(kernel, out_schema)


def ngram_repetition_stats(df: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style repetition quality: fraction of word-``n``-grams
    that are repeats of an earlier one in the same document
    (``1 - distinct/total``; high ⇒ boilerplate/spam).

    Distinct n-grams come from the same Arrow posting kernel the dedup
    family uses (one map pass + one partial-agg count per doc); total
    n-grams is ``n_tokens - n + 1``, a pure codegen projection. Docs
    with fewer than ``n`` tokens have no n-grams → fraction 0.
    Output: (id, n_tokens, n_ngrams, n_distinct, rep_frac)."""
    toks = df.select(
        F.col("doc_id").alias("id"),
        tx.token_count(F.col("text")).alias("n_tokens"))
    distinct = _shingle_posting(df, "doc_id", "text", n) \
        .groupBy("id").agg(F.count(F.lit(1)).alias("n_distinct_raw"))
    total = F.greatest(F.col("n_tokens") - (n - 1), F.lit(0))
    return (toks.join(distinct, "id", "left")
            .select(
                "id", "n_tokens",
                total.alias("n_ngrams"),
                # the posting kernel emits a whole-doc fallback row
                # for 0<tokens<n docs — not an n-gram; zero it out
                F.when(F.col("n_tokens") >= n,
                       F.coalesce(F.col("n_distinct_raw"), F.lit(0)))
                .otherwise(F.lit(0)).alias("n_distinct"))
            .withColumn(
                "rep_frac",
                F.when(F.col("n_ngrams") > 0,
                       F.round(1.0 - F.col("n_distinct")
                               / F.col("n_ngrams").cast("double"), 6))
                .otherwise(F.lit(0.0))))


def jaccard_pairs_exact(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact word-3-gram Jaccard ≥ threshold pairs via inverted
    index: |A∩B| from the shingle equi-join, |A|,|B| from per-doc
    shingle counts, J = inter / (|A|+|B|-inter) — exactly the
    brute-force pairwise Jaccard.
    """
    # posting list feeds three scans (sizes, join side a, join side b):
    # materialize it — at cluster scale this is an intermediate table;
    # recomputing the regexp+shingle pipeline 3× dominates otherwise.
    # localCheckpoint (not persist): blocks are freed by the
    # ContextCleaner when the DataFrame is garbage-collected, so long
    # sessions running many dedup calls don't accumulate cached
    # partitions (a persist() here leaked until memory pressure).
    # eager=True: with a LAZY checkpoint the consuming join's subtrees
    # are materialized as concurrent AQE stage-jobs that RACE to
    # compute the same checkpoint partitions — duplicate Arrow-kernel
    # work + block-lock convoys (measured: a bimodal 3× slowdown on
    # exactly the runs that lost the race).
    post = _shingle_posting(df, "doc_id", "text", 3) \
        .localCheckpoint(eager=True)
    sizes = post.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = post.select(F.col("id").alias("id_a"), "sh")
    b = post.select(F.col("id").alias("id_b"), "sh")
    inter = a.join(b, "sh").filter(F.col("id_a") < F.col("id_b")) \
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    j = inter.join(sa, "id_a").join(sb, "id_b").withColumn(
        "jaccard",
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
    return j.filter(F.col("jaccard") >= threshold) \
        .select("id_a", "id_b", "jaccard")


# ------------------------------------------------------- MinHash + LSH
_MH_PRIME = 2_147_483_647          # 2^31 - 1 (Mersenne)


def minhash_lane_params(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (a, b, c) coefficients for the universal-hash
    lane family — derived from md5 so any SQL oracle can inline the
    same literals."""
    import hashlib

    out = []
    for j in range(num_hashes):
        d = hashlib.md5(f"mh-lane-{j}".encode()).hexdigest()
        a = int(d[0:8], 16) % (_MH_PRIME - 1) + 1
        b = int(d[8:16], 16) % (_MH_PRIME - 1) + 1
        c = int(d[16:24], 16) % _MH_PRIME
        out.append((a, b, c))
    return out


def _lane_exprs(num_hashes: int) -> list:
    """Per-lane hash expressions over the 60-bit posting column ``sh``:
    a carefully overflow-free universal hash family both engines
    evaluate identically in BIGINT arithmetic — split ``sh`` into
    30-bit halves (lo, hi) and take
    h_j = (a_j·lo + b_j·hi + c_j) mod (2^31−1). Products stay < 2^61
    and sums < 2^63, so no 64-bit wraparound anywhere (Spark 4 runs
    ANSI mode; DuckDB BIGINT matches exactly) — the whole MinHash
    pipeline is oracle-replayable at codegen speed (an earlier
    md5-per-lane family was 128 digests/posting row — 4.5× the
    round-1 xxhash runtime).
    """
    # reference pre-materialized sh_lo/sh_hi columns: computing the
    # split inside each of the 128 aggregate expressions is not CSE'd
    # by Catalyst (256 extra bit-ops per posting row)
    lo, hi = F.col("sh_lo"), F.col("sh_hi")
    return [
        F.min(F.pmod(F.lit(a) * lo + F.lit(b) * hi + F.lit(c),
                     F.lit(_MH_PRIME))).alias(f"h{j}")
        for j, (a, b, c) in enumerate(minhash_lane_params(num_hashes))]


def _with_lane_halves(post: DataFrame) -> DataFrame:
    return post.withColumn(
        "sh_lo", F.col("sh").bitwiseAND(F.lit((1 << 30) - 1))) \
        .withColumn("sh_hi", F.shiftrightunsigned(F.col("sh"), 30))


def _minhash_sig_arrow(df: DataFrame, id_col: str, text_col: str,
                       n: int, num_hashes: int) -> DataFrame:
    """(id, h0..h{num_hashes-1}) portable MinHash signatures via ONE
    ``mapInArrow`` numpy kernel — the SimHash-kernel pattern applied to
    MinHash (round-2 verdict item #1).

    Identical lane values to the Catalyst spec: same
    md5-derived 60-bit shingle hashes (functions/text.shingle_hash),
    same ``minhash_lane_params`` universal-hash coefficients, same
    mod-(2^31−1) arithmetic — so the DuckDB candidate-set replay
    (driver oracle) is untouched (pinned by a parity test vs the
    Catalyst spec). What changes is the physics: the Catalyst form
    evaluated 128 min-aggregate lane expressions per posting row
    (measured +45% on the bench after the portable-hash switch); the
    kernel md5-hashes each *unique* shingle once (memoized per worker,
    capped), computes all lanes for the batch vocabulary with one
    vectorized mod, and folds per-doc minima with
    ``np.minimum.reduceat``. Docs with zero shingles emit no row
    (groupBy-over-postings semantics)."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    params = minhash_lane_params(num_hashes)
    A = np.array([p[0] for p in params], dtype=np.int64)[None, :]
    B = np.array([p[1] for p in params], dtype=np.int64)[None, :]
    C = np.array([p[2] for p in params], dtype=np.int64)[None, :]
    out_schema = T.StructType(
        [T.StructField("id", df.schema[id_col].dataType)]
        + [T.StructField(f"h{j}", T.LongType()) for j in range(num_hashes)])
    memo: dict[str, int] = {}
    memo_cap = _TOKEN_MEMO_CAP
    # bound the (shingles × lanes) int32 gather per reduceat block
    max_shingles_per_block = 100_000

    def kernel(batches):
        for rb in batches:
            texts = rb.column(text_col).to_pylist()
            if not texts:
                continue
            sh_lists = _shingle_lists(texts, n)
            keep = [i for i, sh in enumerate(sh_lists) if sh]
            if not keep:
                continue
            if len(memo) > memo_cap:
                memo.clear()
            # block the batch by shingle volume so the gathered lane
            # matrix stays ≤ ~50 MB whatever the Arrow batch size
            b0 = 0
            while b0 < len(keep):
                b1, tot = b0, 0
                while b1 < len(keep) and tot < max_shingles_per_block:
                    tot += len(sh_lists[keep[b1]])
                    b1 += 1
                block = keep[b0:b1]
                b0 = b1
                flat = [s for i in block for s in sh_lists[i]]
                for s in flat:
                    if s not in memo:
                        memo[s] = int(
                            hashlib.md5(s.encode()).hexdigest()[:15], 16)
                shn = np.fromiter((memo[s] for s in flat), dtype=np.int64,
                                  count=len(flat))
                offsets = np.zeros(len(block) + 1, dtype=np.int64)
                offsets[1:] = np.cumsum([len(sh_lists[i]) for i in block])
                u_sh, inv = np.unique(shn, return_inverse=True)
                lo = (u_sh & ((1 << 30) - 1))[:, None]
                hi = (u_sh >> 30)[:, None]
                # a·lo + b·hi + c < 2^61+2^61+2^31 — no int64 overflow
                lanes_u = ((A * lo + B * hi + C) % _MH_PRIME) \
                    .astype(np.int32)                    # (u, lanes)
                # every kept doc has ≥1 shingle → offsets strictly
                # increase → no empty reduceat segments to patch
                mins = np.minimum.reduceat(lanes_u[inv], offsets[:-1],
                                           axis=0).astype(np.int64)
                ids = rb.column(id_col).take(
                    pa.array(np.asarray(block, dtype=np.int64)))
                yield pa.RecordBatch.from_arrays(
                    [ids] + [pa.array(mins[:, j])
                             for j in range(num_hashes)],
                    schema=pa.schema(
                        [("id", ids.type)]
                        + [(f"h{j}", pa.int64())
                           for j in range(num_hashes)]))

    return df.select(F.col(id_col), F.col(text_col)) \
        .mapInArrow(kernel, out_schema)


def _as_sig_array(sig: DataFrame, num_hashes: int) -> DataFrame:
    return sig.select(
        "id", F.array(*[F.col(f"h{j}") for j in range(num_hashes)]).alias("sig"))


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, num_hashes: int = 64) -> DataFrame:
    """(id, sig:array) MinHash signatures, computed by one
    ``mapInArrow`` numpy kernel (``_minhash_sig_arrow``)."""
    return _as_sig_array(
        _minhash_sig_arrow(df, id_col, text_col, n, num_hashes), num_hashes)


def minhash_signature_catalyst(df: DataFrame, id_col: str, text_col: str,
                               n: int, num_hashes: int) -> DataFrame:
    """``minhash_signature``'s relational spec (posting explode → JVM
    min-aggregates per lane): the reference the kernel's parity test
    compares with."""
    post = _with_lane_halves(
        _shingle_posting_catalyst(df, id_col, text_col, n))
    return _as_sig_array(post.groupBy("id").agg(*_lane_exprs(num_hashes)),
                         num_hashes)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.5,
                      probe: DataFrame | None = None) -> DataFrame:
    """Banded-LSH candidate pairs, then exact-Jaccard verification.

    bands=16 × rows=4 ⇒ pair-recall at J=0.5: 1-(1-0.5^4)^16 ≈ 0.645,
    at J=0.8: ≈ 0.9998 — tune (bands, num_hashes) to the target
    threshold. Verification re-joins candidates to the posting lists
    and computes exact Jaccard, so precision is 1.0; recall is the LSH
    recall (reported vs exact in tests). The lane hashes are portable
    BIGINT arithmetic and the band keys md5 → the full candidate set +
    verification is reproducible in DuckDB (the driver's oracle).

    ``probe``: optional subset of corpus rows (same ``id_col``) —
    restricts output to pairs with at least one endpoint in ``probe``
    (the continuous-ingest incremental path; see
    ``minhash_lsh_pairs_incremental``). Band join and verification
    then cost O(|probe| × block), not O(corpus × block).
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # one-pass Arrow kernel (identical lane values; see
    # _minhash_sig_arrow) — the Catalyst 128-min-agg form cost +45% on
    # the bench. Verification re-derives posting lists separately below
    # (it needs them anyway, and only for the candidate ids).
    # checkpoint: the banded self-join reads sig via two subtrees of
    # one job — without it the Arrow kernel runs twice. Eager: lazy
    # checkpoints let the subtrees' concurrent AQE stage-jobs race to
    # compute the same partitions (bimodal 3× slowdown).
    sig = _minhash_sig_arrow(df, id_col, text_col, n, num_hashes) \
        .localCheckpoint(eager=True)
    band_keys = [F.md5(F.concat_ws("|", *[
        F.col(f"h{b * rows_per_band + r}")
        for r in range(rows_per_band)])) for b in range(bands)]
    banded = sig.select(
        "id", F.posexplode(F.array(*band_keys)).alias("band", "bkey"))
    a = banded.select(F.col("id").alias("id_a"), "band", "bkey")
    if probe is not None:
        a = a.join(probe.select(F.col(id_col).alias("id_a")),
                   "id_a", "left_semi")
    b = banded.select(F.col("id").alias("id_b"), "band", "bkey")
    if probe is None:
        cand = a.join(b, ["band", "bkey"]) \
            .filter(F.col("id_a") < F.col("id_b")) \
            .select("id_a", "id_b").distinct()
    else:
        # probe×probe collisions arrive in both orders — orient the
        # pair (least, greatest) so output matches the self-join form
        cand = a.join(b, ["band", "bkey"]) \
            .filter(F.col("id_a") != F.col("id_b")) \
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b")) \
            .distinct()
    # verification only needs posting lists for CANDIDATE ids —
    # semi-join the corpus down before the second shingle pass instead
    # of re-tokenizing everything. At 100 TB duplicates are sparse, so
    # this turns the verify pass from O(corpus) into O(candidates);
    # semantics are identical (inter and sizes are only ever read for
    # candidate pairs). cand is checkpointed because it feeds three
    # subtrees (the two id projections + the verify join) — without it
    # the banded self-join re-executes per consumer.
    cand = cand.localCheckpoint(eager=True)
    cand_ids = cand.select(F.col("id_a").alias(id_col)).unionByName(
        cand.select(F.col("id_b").alias(id_col))).distinct()
    post = _shingle_posting(df.join(cand_ids, id_col, "left_semi"),
                            id_col, text_col, n) \
        .localCheckpoint(eager=True)   # three subtrees below
    sizes = post.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    pa = post.select(F.col("id").alias("id_a"), "sh")
    pb = post.select(F.col("id").alias("id_b"), "sh")
    inter = cand.join(pa, "id_a").join(pb, ["id_b", "sh"]) \
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    j = inter.join(sa, "id_a").join(sb, "id_b").withColumn(
        "jaccard",
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
    return j.filter(F.col("jaccard") >= threshold) \
        .select("id_a", "id_b", "jaccard")


def minhash_lsh_pairs_incremental(df: DataFrame, new_docs: DataFrame,
                                  old_pairs: DataFrame,
                                  **kw) -> DataFrame:
    """Fold newly ingested docs into an existing duplicate-pair set —
    the continuous-crawl maintenance path: committed ``old_pairs`` ∪
    pairs incident to ``new_docs`` (probe-restricted band join).

    EXACTLY equals a from-scratch ``minhash_lsh_pairs`` over the grown
    corpus: signatures are per-document deterministic, so an old-old
    pair collides in the grown corpus iff it collided before — the two
    unioned sets are disjoint and jointly exhaustive (pinned by
    tests/test_dedup.py). Candidate generation and verification cost
    O(|new| × block); the signature kernel over existing docs is a
    scan-speed map pass here and a materialized signature table in
    production (the stage with quadratic risk is the band join, which
    this restricts).
    """
    inc = minhash_lsh_pairs(df, probe=new_docs, **kw)
    return old_pairs.unionByName(inc)


# ------------------------------------------------------------- SimHash
# Per-worker token/shingle digest memo bound. Natural-language batches
# re-see the same tokens constantly (memo hit rate ≈ 99% measured), but
# an open vocabulary at 100 TB would grow an unbounded dict on
# long-lived executors — clear-on-cap keeps memory flat.
_TOKEN_MEMO_CAP = 1 << 20


def simhash_py(text: str) -> int:
    """Reference SimHash of one document (the semantic spec; the
    distributed path is ``simhash_df``): tokenize like
    functions/text.norm_text, md5 each token occurrence, interpret the
    first 16 hex chars as a big-endian uint64, per bit position sum
    (+1 if set else −1) over the token multiset, keep bits whose sum
    is > 0. Returned as a signed int64 (two's complement)."""
    import hashlib
    import re

    toks = [t for t in re.sub(r"[^a-z0-9]+", " ", (text or "").lower())
            .split(" ") if t]
    counts = [0] * 64
    for t in toks:
        v = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
        for j in range(64):
            counts[j] += 1 if (v >> (63 - j)) & 1 else -1
    out = 0
    for j in range(64):
        if counts[j] > 0:
            out |= 1 << (63 - j)
    return out - (1 << 64) if out >= (1 << 63) else out


def simhash_df(df: DataFrame) -> DataFrame:
    """(id, simhash:long) via one ``mapInArrow`` numpy kernel.

    Replaces the round-1 Catalyst form (``aggregate`` over a 64-wide
    ``zip_with`` per token — higher-order-function lambdas are
    interpreted, ≈64×|tokens| lambda evals per row; measured 3.7 s for
    500 docs at sf0.1, the slowest dedup operator). The kernel
    tokenizes the batch, md5-hashes the *unique* tokens once (dict
    memoized across batches per worker), expands hash bits with one
    vectorized shift, and folds the ±1 sums per row with
    ``np.add.reduceat`` — no per-token Python in the hot loop beyond
    the memoized digest. Token hashes are md5-derived (portable), so
    DuckDB can replay the exact bits for the driver oracle."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("id", df.schema["doc_id"].dataType),
        T.StructField("simhash", T.LongType()),
    ])
    memo: dict[str, int] = {}
    memo_cap = _TOKEN_MEMO_CAP

    def kernel(batches):
        import re

        shifts = np.uint64(63) - np.arange(64, dtype=np.uint64)
        weights = (np.uint64(1) << shifts)
        for rb in batches:
            ids = rb.column("doc_id")
            texts = rb.column("text").to_pylist()
            n = len(texts)
            tok_lists = [
                [t for t in re.sub(r"[^a-z0-9]+", " ", (s or "").lower())
                 .split(" ") if t]
                for s in texts]
            offsets = np.zeros(n + 1, dtype=np.int64)
            offsets[1:] = np.cumsum([len(t) for t in tok_lists])
            flat = [t for toks in tok_lists for t in toks]
            if len(memo) > memo_cap:
                # bounded per-worker memo: long-lived executors over a
                # 100 TB corpus with an open vocabulary must not grow
                # the dict forever — a full clear keeps the next batch
                # correct (recompute) at worst-case 2× digest cost
                memo.clear()
            for t in flat:
                if t not in memo:
                    memo[t] = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
            h = np.fromiter((memo[t] for t in flat), dtype=np.uint64,
                            count=len(flat))
            sums = np.zeros((n, 64), dtype=np.int64)
            if len(flat):
                # expand hash bits per UNIQUE hash only, then gather:
                # natural-language batches have tiny vocabularies
                # relative to token instances (measured 31 unique /
                # 270k instances), and numpy's broadcast uint64 shift
                # over the full instance matrix was 5 s vs ~20 ms for
                # the unique-then-gather form. int16 accumulators are
                # safe to 32k tokens/doc.
                u_h, inv = np.unique(h, return_inverse=True)
                ctype = np.int16 if int(
                    (offsets[1:] - offsets[:-1]).max()) < 30000 else np.int32
                bits_u = ((u_h[:, None] >> shifts[None, :]) & np.uint64(1)) \
                    .astype(ctype)
                contrib = (bits_u * 2 - 1)[inv]          # (m, 64) gather
                # pad one zero row so offsets up to len(flat) are valid
                # reduceat start indices: clamping trailing-empty-doc
                # offsets to len(flat)-1 instead would SPLIT the last
                # non-empty doc's segment and drop its final token's
                # contribution (wrong simhash whenever an empty/None
                # doc follows a non-empty one in a batch)
                contrib = np.vstack(
                    [contrib, np.zeros((1, 64), dtype=contrib.dtype)])
                red = np.add.reduceat(contrib, offsets[:-1],
                                      axis=0).astype(np.int64)
                # reduceat on an empty segment (i == next index) returns
                # the element at i, not an empty sum — zero those rows
                empty = offsets[:-1] == offsets[1:]
                red[empty] = 0
                sums = red
            sh = ((sums > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64).view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sh)], schema=pa.schema([
                    ("id", ids.type), ("simhash", pa.int64())]))

    return df.select("doc_id", "text").mapInArrow(kernel, out_schema)


def simhash_pairs(df: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Blocking: split the 64-bit hash into 4 × 16-bit bands; any pair
    within Hamming ≤ 3 agrees on ≥1 band exactly (pigeonhole); larger
    radii trade recall. Verify with bit_count(xor) — all JVM-side.
    """
    # materialize: the banded self-join scans ``sh`` twice — without a
    # checkpoint the Arrow kernel runs twice (measured 2× wall time).
    # eager: lazy checkpoints race under concurrent AQE stage-jobs
    # (see minhash_lsh_pairs)
    sh = simhash_df(df).localCheckpoint(eager=True)
    banded = sh.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), 16 * b)
            .bitwiseAND(F.lit(0xFFFF)).cast("int")
            for b in range(4)])).alias("band", "bkey"))
    a = banded.select(F.col("id").alias("id_a"),
                      F.col("simhash").alias("sh_a"), "band", "bkey")
    b = banded.select(F.col("id").alias("id_b"),
                      F.col("simhash").alias("sh_b"), "band", "bkey")
    cand = a.join(b, ["band", "bkey"]).filter(F.col("id_a") < F.col("id_b")) \
        .dropDuplicates(["id_a", "id_b"])
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))) \
        .filter(F.col("hamming") <= max_hamming) \
        .select("id_a", "id_b", "hamming")


# ----------------------------------------- embedding-cosine near-dup
def embedding_near_dup_matmul(df: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.95) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via block matrix multiply.

    The corpus is L2-normalized once, broadcast to every task, and
    each partition multiplies its row-block against the full corpus
    with one BLAS call (``mapInPandas``) — a single map-side pass, no
    shuffle, no per-pair object churn. This is the exact-search
    pattern up to corpora whose (id, vec) fit in executor memory
    (~10M × 64-d ≈ 2.5 GB); ``embedding_near_dup_auto`` takes it
    under linking's driver budget and the LSH-blocked
    ``components.near_duplicate_pairs`` past it. ~8× faster than a
    relational cross-join form at sf0.1.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # Arrow fetch (toPandas), not collect(): collect deserializes every
    # vector through Python Row objects — far heavier on the driver than
    # the columnar path for the same bytes. Ids keep their source dtype
    # (string ids work; numeric ids stay numeric).
    pdf = df.select(F.col(id_col).alias("id"),
                    F.col(vec_col).alias("vec")).toPandas()
    id_type = df.schema[id_col].dataType
    np_id = np.int64 if isinstance(id_type, (T.LongType, T.IntegerType)) \
        else object
    ids = pdf["id"].to_numpy(dtype=np_id)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
    order = np.argsort(ids, kind="stable")
    ids, mat = ids[order], mat[order]
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((ids, mat))

    out_schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("cosine", T.DoubleType()),
    ])

    def kernel(batches):
        c_ids, c_mat = bc.value
        # bound the (slice × n) sims allocation: Arrow batches arrive
        # up to ~10k rows, and 10k × a multi-million-row corpus of
        # float64 sims (+ same-shape bool mask) would blow the heap —
        # slice so sims stays ≤ ~256 MB regardless of corpus size
        rows_per_slice = max(1, int(256e6 / (8 * max(len(c_ids), 1))))
        for pdf in batches:
            q_all = np.stack([np.asarray(v, dtype=np.float64)
                              for v in pdf["vec"]])
            q_all /= np.maximum(
                np.linalg.norm(q_all, axis=1, keepdims=True), 1e-300)
            qid_all = pdf["id"].to_numpy(dtype=c_ids.dtype)
            for s in range(0, len(qid_all), rows_per_slice):
                q = q_all[s:s + rows_per_slice]
                qid = qid_all[s:s + rows_per_slice]
                sims = q @ c_mat.T
                keep = (sims >= threshold) & (qid[:, None] < c_ids[None, :])
                qi, cj = np.nonzero(keep)
                yield pd.DataFrame({"id_a": qid[qi], "id_b": c_ids[cj],
                                    "cosine": sims[qi, cj]})

    return df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).alias("vec")) \
        .mapInPandas(kernel, out_schema)


def embedding_near_dup_auto(df: DataFrame,
                            threshold: float = 0.95) -> DataFrame:
    """Cosine ≥ threshold pairs (id_a < id_b, cosine) behind ONE
    driver-fit decision, linking's byte gate
    (``linking.fits_driver_broadcast`` against
    ``linking.BROADCAST_BUDGET_MB``, read at call time; one probe job
    for rows and dim): a corpus whose packed vectors fit takes the
    exact broadcast matmul (``embedding_near_dup_matmul``), a larger
    one the blocked cosine self-join
    ``components.near_duplicate_pairs`` with no blocking keys —
    precision 1.0, recall the LSH recall (at cos ≥ 0.95 with 8 bands ×
    8 bits, 1-(1-0.9^8)^8 ≈ 0.989) — so the default can never OOM
    driver or executors at scale. An empty corpus takes the blocked
    plan too: it yields the empty, typed pair set."""
    if lk.fits_driver_broadcast(df, lk.BROADCAST_BUDGET_MB):
        return embedding_near_dup_matmul(df, "vec_id", "embedding",
                                         threshold)
    pairs = cc.near_duplicate_pairs(df, threshold, id_col="vec_id",
                                    keys=(), seed="near-dup-generic")
    return pairs.select(F.col("src").alias("id_a"),
                        F.col("dst").alias("id_b"),
                        F.col("score").alias("cosine"))


def semantic_dedup(df: DataFrame, k: int = 8,
                   iterations: int = 2,
                   threshold: float = 0.95) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-partition the embedding space, then
    search near-duplicate pairs only WITHIN each cluster — pair cost
    drops from O(n²) to O(Σ|cluster|²) while catching the semantic
    duplicates (paraphrases, re-encodes) that exact/MinHash *text*
    dedup cannot see.

    Composition of two existing kernels: ``clustering.kmeans_assign``
    (Arrow partial-agg Lloyd iterations, deterministic first-k init)
    produces the blocking key, and ``components.near_duplicate_pairs``
    blocked on ``cluster`` with zero hyperplane bits (one band: every
    same-cluster pair is a candidate) turns the pair search into an
    exact cluster-local equi-join — ids and cluster only, the vectors
    join back by id for the Arrow cosine. At 100 TB the cluster count
    scales with the corpus (k ≈ n/10k keeps blocks verify-sized) and
    each block's pair join shuffles only its own rows. Returns
    canonical (id_a, id_b, cosine) pairs; duplicates ACROSS clusters
    are unreachable by construction — that recall gap is the
    documented SemDeDup trade-off (the paper accepts it for a 50× cost
    cut; tests measure it vs the exact pair set)."""
    from .clustering import kmeans_assign

    assign = kmeans_assign(df, k=k, iterations=iterations) \
        .select(F.col("vec_id"), F.col("cluster"))
    blocked = df.select("vec_id", "embedding").join(assign, "vec_id")
    pairs = cc.near_duplicate_pairs(blocked, threshold, nbits=0, nbands=1,
                                    id_col="vec_id",
                                    keys=("cluster",))
    return pairs.select(F.col("src").alias("id_a"),
                        F.col("dst").alias("id_b"),
                        F.col("score").alias("cosine"))


# ------------------------------------------------------------ keep set
def dedup_keep(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Pairs → (id, keep_id) via connected components (min id wins).
    Singletons keep themselves."""
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labels = cc.connected_components(edges, df.select("doc_id"),
                                     id_col="doc_id")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("component").alias("keep_id"))


# ----------------------------------------------------- decontamination
def decontaminate(train: DataFrame, bench: DataFrame,
                  n: int = 8) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word-``n``-gram shingle with a held-out benchmark document
    (the GPT-3-appendix / Gopher / Llama pretraining hygiene step —
    overlap with an eval set must be found and dropped before
    training, not after).

    Shape: inverted-index equi-join on the 60-bit shingle hash — the
    same posting-list Arrow kernel as the dedup family, never a
    cross product. The benchmark side is eval-set-sized (thousands of
    docs against a 100 TB train corpus), so its posting list is
    broadcast: the train posting list then never shuffles —
    the probe is map-side, and only the (hit id, sh, bench_id) rows
    (rare by construction) reach the two-phase distinct aggregation.
    Per-doc shingle totals are computed only for contaminated ids
    (semi-join first), not the whole corpus.

    Output: one row per contaminated train doc —
    (id, n_hit_shingles, n_bench_docs, train_shingles,
    contamination_frac = hit/total distinct shingles).
    """
    post_t = _shingle_posting(train, "doc_id", "text", n)
    post_b = F.broadcast(_shingle_posting(bench, "doc_id", "text", n)
                         .select(F.col("id").alias("bench_id"), "sh"))
    # posting list feeds the probe AND the (filtered) size count:
    # materialize once (same eager-checkpoint rationale as
    # jaccard_pairs_exact — avoids recomputing the Arrow kernel and
    # the AQE duplicate-materialization race)
    post_t = post_t.localCheckpoint(eager=True)
    hits = post_t.join(post_b, "sh").groupBy("id").agg(
        F.countDistinct("sh").alias("n_hit_shingles"),
        F.countDistinct("bench_id").alias("n_bench_docs"))
    sizes = post_t.join(hits.select("id"), "id") \
        .groupBy("id").agg(F.count(F.lit(1)).alias("train_shingles"))
    return hits.join(sizes, "id").withColumn(
        "contamination_frac",
        F.round(F.col("n_hit_shingles")
                / F.col("train_shingles").cast("double"), 6))


def jaccard_pairs_prefix(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """EXACT Jaccard-join with PPJoin-style prefix filtering — the
    classic set-similarity-join optimization over the plain inverted
    index (``jaccard_pairs_exact``):

    order each doc's shingles by GLOBAL rarity (document frequency
    asc) and index only the first ``|d| - ceil(t*|d|) + 1`` of them.
    Pigeonhole: two sets with J ≥ t overlap in ≥ ceil(t*|d|) elements,
    so they cannot avoid sharing at least one indexed prefix token —
    candidates from the prefix index are a SUPERSET of the true pairs
    (exactness preserved), while the head shingles everyone shares
    (the quadratic cost of a full index) mostly sit OUTSIDE prefixes.

    Verify: per-doc shingle sets (one collect_set agg) joined onto the
    candidate pairs, intersection via ``array_intersect`` (JVM
    collection op, not a per-element lambda). Candidate rows carry two
    doc-sized hash arrays — bounded by the (filtered) candidate count,
    not by posting-list blowup.
    """
    post, prefix = _prefix_index(df, "doc_id", "text", 3, threshold)
    a = prefix.select(F.col("id").alias("id_a"), "sh",
                      F.col("sz").alias("sz_a"))
    b = prefix.select(F.col("id").alias("id_b"), "sh",
                      F.col("sz").alias("sz_b"))
    # length filter (the PPJoin companion prune): J ≥ t forces
    # t·max(|a|,|b|) ≤ min(|a|,|b|) — a doc can never clear the
    # threshold against one much larger than itself, so those pairs
    # drop BEFORE the expensive set-verify join. The 1e-9 guard keeps
    # the error direction safe (at worst one extra candidate), same
    # rationale as the prefix ceiling.
    cand = (a.join(b, "sh").filter(F.col("id_a") < F.col("id_b"))
            .filter(F.least("sz_a", "sz_b")
                    >= F.lit(threshold)
                    * F.greatest("sz_a", "sz_b") - F.lit(1e-9))
            .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]))
    sets = post.groupBy("id").agg(F.collect_set("sh").alias("shs"))
    paired = cand \
        .join(sets.select(F.col("id").alias("id_a"),
                          F.col("shs").alias("shs_a")), "id_a") \
        .join(sets.select(F.col("id").alias("id_b"),
                          F.col("shs").alias("shs_b")), "id_b")
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = inter / (F.size("shs_a") + F.size("shs_b") - inter)
    return paired.select(
        "id_a", "id_b", jac.alias("jaccard")) \
        .filter(F.col("jaccard") >= threshold)


def _prefix_index(df: DataFrame, id_col: str, text_col: str,
                  n: int, threshold: float):
    """(checkpointed posting list, prefix posting list) — the SINGLE
    definition of the PPJoin prefix both the operator and the
    diagnostics helper use.

    The required-overlap ceiling must never round UP past the true
    value: IEEE ``0.07 * 100 == 7.000000000000001`` would ceil to 8
    and shorten the prefix by one, dropping true pairs. Subtracting an
    epsilon before ``ceil`` makes the error direction safe — at worst
    the prefix is one LONGER (less pruning, still exact)."""
    post = _shingle_posting(df, id_col, text_col, n) \
        .localCheckpoint(eager=True)
    sizes = post.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = post.groupBy("sh").agg(F.count(F.lit(1)).alias("df_sh"))
    w = Window.partitionBy("id").orderBy(F.asc("df_sh"), F.asc("sh"))
    need = F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
    prefix = (post.join(dfreq, "sh").join(sizes, "id")
              .withColumn("r", F.row_number().over(w))
              .filter(F.col("r") <= F.col("sz") - need + 1)
              .select("id", "sh", "sz"))
    return post, prefix


def _prefix_candidate_count(df: DataFrame, id_col: str, text_col: str,
                            n: int, threshold: float) -> tuple[int, int]:
    """(prefix-filtered candidates, full-index candidates) — test/
    diagnostics helper quantifying the prefix filter's pruning."""
    post, prefix = _prefix_index(df, id_col, text_col, n, threshold)

    def pairs(p):
        a = p.select(F.col("id").alias("id_a"), "sh")
        b = p.select(F.col("id").alias("id_b"), "sh")
        return a.join(b, "sh").filter(F.col("id_a") < F.col("id_b")) \
            .select("id_a", "id_b").distinct().count()

    return pairs(prefix), pairs(post)


def duplicated_span_stats(df: DataFrame, n: int = 10,
                          min_docs: int = 2) -> DataFrame:
    """Window-granular exact substring-duplication analysis — the
    distributed practical form of suffix-array substring dedup
    ("dedup training data" family): a document's ``n``-token window
    is DUPLICATED if the identical window appears in ≥ ``min_docs``
    distinct documents. Emits per-doc counts so callers can trim or
    drop high-overlap documents.

    Shape: the shared shingle posting kernel (distinct windows per
    doc) → window document-frequency (partial-agg'd) → per-doc rollup.
    Never pairwise: cost is O(postings), the df aggregation absorbs
    head windows.

    Output: (id, n_windows, n_dup_windows, dup_frac) — docs with
    fewer than ``n`` tokens have one whole-doc window by the shared
    shingle spec; 0-token docs emit nothing.
    """
    post = _shingle_posting(df, "doc_id", "text", n) \
        .localCheckpoint(eager=True)
    wdf = post.groupBy("sh").agg(
        F.countDistinct("id").alias("w_docs"))
    flagged = post.join(wdf, "sh") \
        .groupBy("id").agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("w_docs") >= min_docs, 1)
                  .otherwise(0)).alias("n_dup_windows"))
    return flagged.withColumn(
        "dup_frac",
        F.round(F.col("n_dup_windows")
                / F.col("n_windows").cast("double"), 6))
