"""Embedding quantization: float32 → int8 with per-vector scale.

The standard storage/memory lever for vector search at corpus scale:
a 512-d float32 embedding is 2 KB; symmetric int8 quantization cuts
it to 512 B + one float, with ~0.3% typical cosine error — the
difference between an ANN index fitting in executor memory or
spilling. (FAISS `SQ8`, Milvus/pgvector int8 are this exact scheme.)

Scheme (symmetric max-abs, per vector):
    scale = max(|x_i|)            (0-vectors keep scale 0, q = 0)
    q_i   = floor(x_i * 127 / scale + 0.5)   in [-127, 127]
    x̂_i  = q_i * scale / 127

``floor(v + 0.5)`` — NOT banker's rounding — is used so the decision
is portable bit-for-bit: numpy here, Spark SQL, and DuckDB all agree
on it, letting the driver oracle replay quantization EXACTLY (integer
codes compare hash-equal; no float-tolerance hand-waving).

Runs as one ``mapInArrow`` numpy kernel (matrix ops over the whole
batch, zero per-row Python) — the same hot-path pattern as the dedup
signature kernels. Map-only: no shuffle, composes with any upstream
scan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401 (callers compose)
from pyspark.sql import types as T


def quantize_int8(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """→ (id, scale float, qvec array<int> in [-127,127], plus exact
    integer ``q_sum``/``q_l1`` checksums and float64 reconstruction
    error stats ``max_err``/``mse``)."""
    import numpy as np
    import pyarrow as pa

    out_schema = T.StructType([
        T.StructField("id", df.schema[id_col].dataType),
        T.StructField("scale", T.DoubleType()),
        T.StructField("qvec", T.ArrayType(T.IntegerType())),
        T.StructField("q_sum", T.LongType()),
        T.StructField("q_l1", T.LongType()),
        T.StructField("max_err", T.DoubleType()),
        T.StructField("mse", T.DoubleType()),
    ])

    def kernel(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            vecs = rb.column(vec_col)
            # ragged-safe: testdata vectors share a dim per table, but
            # the kernel must not assume it
            flat = np.asarray(vecs.values.to_numpy(zero_copy_only=False),
                              dtype=np.float64)
            offs = np.asarray(vecs.offsets.to_numpy(zero_copy_only=False),
                              dtype=np.int64)
            lens = np.diff(offs)

            # All segment reductions run over a ONE-ZERO-PADDED array:
            # a zero-length vector makes some offset == len(flat),
            # which raw reduceat rejects, and clamping instead would
            # corrupt the previous segment (the simhash trailing-
            # empty-doc lesson, dedup.py::simhash_df). The pad is
            # absorbing for every op used (max/add over values ≥ 0 or
            # exact-zero pads); empty segments are masked out after.
            def seg(op, arr, pad=0.0):
                if not len(flat):
                    return np.zeros(n, dtype=arr.dtype)
                padded = np.concatenate([arr, np.asarray([pad],
                                                         dtype=arr.dtype)])
                out = op.reduceat(padded, offs[:-1])
                out[lens == 0] = pad
                return out

            scale = seg(np.maximum, np.abs(flat))
            per_elem_scale = np.repeat(scale, lens)
            with np.errstate(divide="ignore", invalid="ignore"):
                q = np.floor(flat * 127.0 / per_elem_scale + 0.5)
            if len(q):
                q[per_elem_scale == 0.0] = 0.0
            q = q.astype(np.int64)
            recon = q * per_elem_scale / 127.0
            err = np.abs(recon - flat)
            qsum = seg(np.add, q, pad=0)
            ql1 = seg(np.add, np.abs(q), pad=0)
            maxe = seg(np.maximum, err)
            msev = seg(np.add, err * err) / np.maximum(lens, 1)
            yield pa.RecordBatch.from_arrays(
                [rb.column(id_col),
                 pa.array(scale),
                 pa.ListArray.from_arrays(
                     pa.array(offs, type=pa.int32()),
                     pa.array(q.astype(np.int32))),
                 pa.array(qsum), pa.array(ql1),
                 pa.array(maxe), pa.array(msev)],
                schema=pa.schema([
                    ("id", rb.column(id_col).type),
                    ("scale", pa.float64()),
                    ("qvec", pa.list_(pa.int32())),
                    ("q_sum", pa.int64()), ("q_l1", pa.int64()),
                    ("max_err", pa.float64()), ("mse", pa.float64())]))

    return df.select(F.col(id_col), F.col(vec_col)) \
        .mapInArrow(kernel, out_schema)


def int8_cosine_topk(queries_q: DataFrame, corpus_q: DataFrame,
                     k: int = 5) -> DataFrame:
    """ANN search directly over the QUANTIZED codes — the payoff of
    ``quantize_int8``: cosine is scale-invariant, so
    ``cos(deq(a), deq(b)) == cos(qvec_a, qvec_b)`` exactly (the
    per-vector scales cancel), and the corpus rides the search as
    int8 codes — 4× less broadcast/shuffle/cache traffic, and at real
    scale an int8 GEMM roughly doubles kernel throughput vs f32.

    Reuses the float ANN machinery (`similarity.cosine_topk` →
    `linking._dot_arrow`): its float64 arithmetic is EXACT on integer
    codes (|q| ≤ 127 ⇒ every product and any practical-dim sum is far
    below 2^53), so scores are bit-identical to exact BIGINT
    arithmetic — which is how the driver oracle replays this without
    any float-tolerance caveat, unlike the f32 path where summation
    order can flip the last ulp."""
    from .similarity import cosine_topk

    return cosine_topk(queries_q, corpus_q, k=k,
                       q_id="id", q_vec="qvec", c_id="id", c_vec="qvec")


def pq_train(df: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", m: int = 4, k: int = 16,
             iterations: int = 1):
    """Train product-quantization codebooks (Jégou et al. 2011, the
    FAISS ``PQ``/``IVF-PQ`` core) → numpy ``(m, k, d/m)``.

    The vector space is split into ``m`` contiguous subspaces; each
    gets its own k-centroid Lloyd codebook. Determinism contract
    matches ``clustering.kmeans_assign``: init = the k smallest-id
    vectors' subvectors, fixed ``iterations``, argmin ties toward the
    smaller centroid id — which is what makes the whole train→encode→
    search path replayable in ANSI SQL.

    Scale shape: codebooks are driver-resident (m·k·d/m doubles — KB),
    and each Lloyd iteration is ONE ``mapInArrow`` pass emitting
    (subspace, cluster, count, sum) partials for ALL m subspaces at
    once — the treeAggregate economics of ``kmeans_assign``, ×m
    codebooks for the price of one corpus read per iteration.
    """
    import numpy as np
    import pyarrow as pa

    src = df.select(id_col, vec_col)
    init = src.orderBy(id_col).limit(k).select(vec_col).collect()
    x0 = np.asarray([r[0] for r in init], dtype=np.float64)   # (k, d)
    # corpora smaller than k shrink the codebook to what exists (the
    # kmv small-set short-circuit analogue); all downstream shapes
    # follow the EFFECTIVE k
    k = x0.shape[0]
    d = x0.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    books = np.stack([x0[:, i * dsub:(i + 1) * dsub]
                      for i in range(m)])                     # (m, k, dsub)

    def partials(cb):
        def kernel(batches):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                x = np.asarray(rb.column(vec_col).to_pylist(),
                               dtype=np.float64)
                subs, cls_, cnts, sums = [], [], [], []
                for i in range(m):
                    xs = x[:, i * dsub:(i + 1) * dsub]
                    # direct-form distances (the kmeans_assign
                    # cancellation-parity rationale)
                    sq = ((xs[:, None, :] - cb[i][None, :, :]) ** 2) \
                        .sum(axis=2)
                    cl = np.argmin(sq, axis=1)
                    for kk in np.unique(cl):
                        msk = cl == kk
                        subs.append(i)
                        cls_.append(int(kk))
                        cnts.append(int(msk.sum()))
                        sums.append(xs[msk].sum(axis=0).tolist())
                yield pa.RecordBatch.from_arrays(
                    [pa.array(subs, pa.int32()),
                     pa.array(cls_, pa.int32()),
                     pa.array(cnts, pa.int64()),
                     pa.array(sums, pa.list_(pa.float64()))],
                    names=["sub", "cluster", "cnt", "vsum"])
        return kernel

    for _ in range(iterations):
        rows = src.mapInArrow(
            partials(books),
            "sub int, cluster int, cnt long, vsum array<double>") \
            .collect()
        cnt = np.zeros((m, k))
        tot = np.zeros_like(books)
        for r in rows:
            cnt[r["sub"], r["cluster"]] += r["cnt"]
            tot[r["sub"], r["cluster"]] += np.asarray(r["vsum"])
        books = books.copy()
        nz = cnt > 0
        books[nz] = tot[nz] / cnt[nz][:, None]
    return books


def pq_encode(df: DataFrame, codebooks) -> DataFrame:
    """Encode every vector as its per-subspace nearest-centroid codes
    → ``(vec_id, codes array<int>)`` — d floats become m small ints
    (the 16-64× index-size lever that lets a 10^12-vector corpus fit
    an ANN tier at all). One map pass, no shuffle."""
    import numpy as np
    import pyarrow as pa

    cb = np.asarray(codebooks)
    m, _k, dsub = cb.shape

    def kernel(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            x = np.asarray(rb.column("embedding").to_pylist(),
                           dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for i in range(m):
                xs = x[:, i * dsub:(i + 1) * dsub]
                sq = ((xs[:, None, :] - cb[i][None, :, :]) ** 2) \
                    .sum(axis=2)
                codes[:, i] = np.argmin(sq, axis=1)
            offs = pa.array(range(0, (len(x) + 1) * m, m),
                            type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [rb.column("vec_id"),
                 pa.ListArray.from_arrays(offs,
                                          pa.array(codes.ravel(),
                                                   pa.int32()))],
                names=["vec_id", "codes"])

    return df.select("vec_id", "embedding").mapInArrow(
        kernel, "vec_id long, codes array<int>")


def pq_adc_topk(codes_df: DataFrame, codebooks, queries,
                topk: int = 10) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes →
    ``(query_id, vec_id, adc_dist)``: per query, a (m × k) lookup
    table of exact subspace distances to every centroid is built once
    (driver-side — queries stay full-precision, hence *asymmetric*),
    and each item's approximate distance is m table gathers + a sum —
    O(m) per item instead of O(d), over codes instead of floats.

    ``queries`` is a list of (query_id, vector) pairs with DISTINCT
    ids (dim-sized, driver-held — the same economics as the
    codebooks; a duplicated id would silently merge two queries'
    result sets). Ranking uses the ROUNDED distance with the item id
    as tie-break, so the order is reproducible across engines and
    summation orders.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import Window

    cb = np.asarray(codebooks)
    m, k, dsub = cb.shape
    qids = [int(q) for q, _ in queries]
    qmat = np.asarray([v for _, v in queries], dtype=np.float64)
    # (nq, m, k) exact subspace distance tables
    lut = np.empty((len(qids), m, k))
    for i in range(m):
        qs = qmat[:, i * dsub:(i + 1) * dsub]
        lut[:, i, :] = ((qs[:, None, :] - cb[i][None, :, :]) ** 2) \
            .sum(axis=2)

    def kernel(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            codes = np.asarray(rb.column("codes").to_pylist(),
                               dtype=np.int64)           # (n, m)
            # scores[(q, item)] = Σ_m lut[q, m, codes[item, m]]
            sc = np.zeros((len(qids), n))
            for i in range(m):
                sc += lut[:, i, codes[:, i]]
            ids = np.asarray(rb.column("vec_id").to_pylist())
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(qids, n), pa.int64()),
                 pa.array(np.tile(ids, len(qids)), pa.int64()),
                 pa.array(sc.ravel(), pa.float64())],
                names=["query_id", "vec_id", "adc"])

    scored = codes_df.mapInArrow(
        kernel, "query_id long, vec_id long, adc double")
    w = Window.partitionBy("query_id").orderBy(
        F.round("adc", 6).asc(), F.col("vec_id").asc())
    return (scored
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= topk)
            .select("query_id", "vec_id",
                    F.round("adc", 6).alias("adc_dist")))


def ivfpq_topk(df: DataFrame, queries, ncoarse: int = 8,
               nprobe: int = 2, m: int = 4, k: int = 16,
               iterations: int = 1, topk: int = 10) -> DataFrame:
    """IVF-PQ search (the FAISS ``IVFx,PQy`` architecture) →
    ``(query_id, vec_id, adc_dist)``: a coarse k-means quantizer
    partitions the corpus into ``ncoarse`` inverted lists; each query
    probes only its ``nprobe`` nearest lists and ADC-ranks the PQ
    codes inside them — candidate count drops by ~nprobe/ncoarse
    BEFORE any distance math, which at 10^12 vectors is the
    difference between touching a shard and touching the corpus.

    Built by composition: the coarse quantizer IS ``pq_train`` with
    m=1 (one codebook over the full vector), list assignment IS
    ``pq_encode`` with that codebook, and the in-list codes come from
    the standard ``pq_train``/``pq_encode``. This variant quantizes
    raw vectors (IVF restricts candidates only); the
    residual-encoding refinement (PQ over x − coarse_centroid) is a
    drop-in swap on the same plan shape.

    Plan shape: probe table (query_id, cluster — nq·nprobe rows)
    broadcast-joins the (cluster, codes) corpus — the inverted-list
    read; ADC is a row-wise LUT gather in one mapInArrow kernel; the
    same rounded-distance + id ranking as ``pq_adc_topk``.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import Window

    coarse = pq_train(df, "vec_id", "embedding", m=1, k=ncoarse,
                      iterations=iterations)           # (1, ncoarse, d)
    books = pq_train(df, "vec_id", "embedding", m=m, k=k,
                     iterations=iterations)
    cb = np.asarray(books)
    _m, _k, dsub = cb.shape
    cc = np.asarray(coarse[0])
    # pq_train shrinks the codebook on corpora smaller than k — all
    # probe arithmetic below follows the EFFECTIVE list count
    ncoarse = cc.shape[0]
    nprobe = min(nprobe, ncoarse)

    # list assignment + PQ codes in ONE fused encode pass — a
    # separate pq_encode per codebook would force a vec_id shuffle
    # join of the two outputs, putting the codes on an exchange
    # (caught by the plan-audit test); fused, the corpus never
    # shuffles before the probe broadcast join
    def encode_both(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            x = np.asarray(rb.column("embedding").to_pylist(),
                           dtype=np.float64)
            cl = np.argmin(((x[:, None, :] - cc[None, :, :]) ** 2)
                           .sum(axis=2), axis=1).astype(np.int32)
            cds = np.empty((len(x), _m), dtype=np.int32)
            for i in range(_m):
                xs = x[:, i * dsub:(i + 1) * dsub]
                sq = ((xs[:, None, :] - cb[i][None, :, :]) ** 2) \
                    .sum(axis=2)
                cds[:, i] = np.argmin(sq, axis=1)
            offs = pa.array(range(0, (len(x) + 1) * _m, _m),
                            type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [rb.column("vec_id"), pa.array(cl, pa.int32()),
                 pa.ListArray.from_arrays(offs,
                                          pa.array(cds.ravel(),
                                                   pa.int32()))],
                names=["vec_id", "cluster", "codes"])

    corpus = df.select("vec_id", "embedding").mapInArrow(
        encode_both, "vec_id long, cluster int, codes array<int>")
    qids = [int(q) for q, _ in queries]
    qmat = np.asarray([v for _, v in queries], dtype=np.float64)
    cdist = ((qmat[:, None, :] - coarse[0][None, :, :]) ** 2).sum(axis=2)
    # nprobe nearest lists per query, ties toward the smaller cluster
    # id (lexsort keys are applied last-key-major)
    order = np.lexsort((np.tile(np.arange(ncoarse), (len(qids), 1)),
                        cdist), axis=1)
    probes = [(qids[i], int(c))
              for i in range(len(qids))
              for c in order[i, :nprobe]]
    spark = df.sparkSession
    probe_df = spark.createDataFrame(probes, "query_id long, cluster int")
    cand = corpus.join(F.broadcast(probe_df), "cluster")

    lut = np.empty((len(qids), _m, _k))
    for i in range(_m):
        qs = qmat[:, i * dsub:(i + 1) * dsub]
        lut[:, i, :] = ((qs[:, None, :] - cb[i][None, :, :]) ** 2) \
            .sum(axis=2)
    qidx = {q: i for i, q in enumerate(qids)}

    def kernel(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            cds = np.asarray(rb.column("codes").to_pylist(),
                             dtype=np.int64)
            qs = np.asarray([qidx[q] for q in
                             rb.column("query_id").to_pylist()],
                            dtype=np.int64)
            sc = np.zeros(n)
            for i in range(_m):
                sc += lut[qs, i, cds[:, i]]
            yield pa.RecordBatch.from_arrays(
                [rb.column("query_id"), rb.column("vec_id"),
                 pa.array(sc, pa.float64())],
                names=["query_id", "vec_id", "adc"])

    scored = cand.select("query_id", "vec_id", "codes").mapInArrow(
        kernel, "query_id long, vec_id long, adc double")
    w = Window.partitionBy("query_id").orderBy(
        F.round("adc", 6).asc(), F.col("vec_id").asc())
    return (scored
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= topk)
            .select("query_id", "vec_id",
                    F.round("adc", 6).alias("adc_dist")))
