"""Distributed k-means over an embedding column.

The MLlib pattern, re-expressed directly: centroids live on the
driver (K×d — a few KB, scale-independent), each iteration is ONE
map pass over the corpus (an Arrow kernel computing all K distances
per batch with one BLAS-backed matmul-like broadcast) emitting
per-partition partial (cluster, count, sum-vector) rows that combine
on the driver — the treeAggregate shape. No shuffle touches a
vector: the corpus is read ``iterations + 1`` times and everything
else is driver-side K×d arithmetic. At 100 TB each pass is pure map
tasks over input splits.

Determinism: init = the K vectors with the smallest ids; fixed
iteration count; argmin ties break toward the smaller centroid id.
This makes the whole algorithm replayable in ANSI SQL (the driver
oracle unrolls the iterations as CTEs with ``list_distance``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dists_kernel(centroids: np.ndarray, id_col: str, vec_col: str,
                  emit: str):
    """mapInArrow kernel factory. ``emit='assign'`` yields
    (id, cluster, dist); ``emit='partial'`` yields per-batch
    (cluster, cnt, vsum) partial aggregates."""
    import pyarrow as pa

    c = centroids  # (k, d) float64, closure-captured (broadcast-sized)

    def kernel(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            x = np.asarray(rb.column(vec_col).to_pylist(),
                           dtype=np.float64)           # (n, d)
            # DIRECT-form distances Σ(x-c)² — not the expanded
            # ||x||²-2x·c+||c||² matmul form, whose cancellation error
            # (~1e-8) could flip argmin near cluster boundaries vs the
            # SQL oracle's list_distance; the direct form matches it
            # to ~1 ulp. n×k×d temporaries are ~8 MB/batch at k=8.
            sq = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            cl = np.argmin(sq, axis=1).astype(np.int32)  # ties → min id
            if emit == "assign":
                d = np.sqrt(sq[np.arange(len(cl)), cl])
                yield pa.RecordBatch.from_arrays(
                    [rb.column(id_col), pa.array(cl, pa.int32()),
                     pa.array(d, pa.float64())],
                    names=[id_col, "cluster", "dist"])
            else:
                ks, cnts, sums = [], [], []
                for kk in np.unique(cl):
                    m = cl == kk
                    ks.append(int(kk))
                    cnts.append(int(m.sum()))
                    sums.append(x[m].sum(axis=0).tolist())
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ks, pa.int32()),
                     pa.array(cnts, pa.int64()),
                     pa.array(sums, pa.list_(pa.float64()))],
                    names=["cluster", "cnt", "vsum"])
    return kernel


def kmeans_assign(df: DataFrame, k: int = 8, iterations: int = 2) -> DataFrame:
    """Lloyd's algorithm, ``iterations`` centroid updates, then a
    final assignment pass. Returns (id, cluster, dist).

    Empty clusters keep their previous centroid (deterministic, and
    what the SQL replay's LEFT JOIN + coalesce does)."""
    src = df.select("vec_id", "embedding")
    init = src.orderBy("vec_id").limit(k).select("embedding").collect()
    centroids = np.asarray([r[0] for r in init], dtype=np.float64)

    partial_schema = ("cluster int, cnt long, vsum array<double>")
    for _ in range(iterations):
        parts = src.mapInArrow(
            _dists_kernel(centroids, "vec_id", "embedding", "partial"),
            partial_schema).collect()          # ≤ k × partitions rows
        cnt = np.zeros(len(centroids))
        tot = np.zeros_like(centroids)
        for r in parts:
            cnt[r["cluster"]] += r["cnt"]
            tot[r["cluster"]] += np.asarray(r["vsum"])
        nz = cnt > 0
        centroids = centroids.copy()
        centroids[nz] = tot[nz] / cnt[nz, None]

    out_schema = "vec_id long, cluster int, dist double"
    return src.mapInArrow(
        _dists_kernel(centroids, "vec_id", "embedding", "assign"),
        out_schema) \
        .select("vec_id", "cluster", F.round("dist", 6).alias("dist"))


def pca_project(df: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding",
                iterations: int = 3) -> DataFrame:
    """Distributed PCA: project every vector onto the top principal
    component → ``(id_col, pc1)``.

    Same treeAggregate shape as k-means — the corpus is touched by
    exactly TWO map passes, no shuffle ever carries a vector:

    1. one ``mapInArrow`` pass emits per-batch moment partials
       (n, Σx, Σxxᵀ flattened — d²+d+1 doubles per PARTITION, scale-
       independent) that combine on the driver into the covariance
       C = Σxxᵀ/n − μμᵀ;
    2. the top eigenvector comes from ``iterations`` driver-side
       power-iteration steps on the d×d C (a few KB of numpy — the
       same driver-resident-model economics as k-means centroids),
       started from the uniform 1/√d vector so the sign and path are
       deterministic;
    3. a second map pass emits (x−μ)·v per row.

    The SQL oracle replays the identical math relationally (double
    unnest covariance + unrolled normalize-multiply CTEs); both
    engines drift only by summation order (~1e-12 relative), far
    under the round-6 output contract — the kmeans precedent.
    """
    src = df.select(id_col, vec_col)
    import pyarrow as pa

    def moments(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            x = np.asarray(rb.column(vec_col).to_pylist(),
                           dtype=np.float64)
            yield pa.RecordBatch.from_arrays(
                [pa.array([len(x)], pa.int64()),
                 pa.array([x.sum(axis=0).tolist()],
                          pa.list_(pa.float64())),
                 pa.array([(x.T @ x).ravel().tolist()],
                          pa.list_(pa.float64()))],
                names=["n", "sx", "sxx"])

    parts = src.mapInArrow(
        moments, "n long, sx array<double>, sxx array<double>").collect()
    n = float(sum(r["n"] for r in parts))
    d = len(parts[0]["sx"])
    sx = np.zeros(d)
    sxx = np.zeros((d, d))
    for r in parts:
        sx += np.asarray(r["sx"])
        sxx += np.asarray(r["sxx"]).reshape(d, d)
    mu = sx / n
    cov = sxx / n - np.outer(mu, mu)
    v = np.full(d, 1.0 / np.sqrt(d))
    for _ in range(iterations):
        w = cov @ v
        v = w / np.linalg.norm(w)

    mu_l, v_l = mu.tolist(), v.tolist()

    def project(batches):
        m = np.asarray(mu_l)
        vv = np.asarray(v_l)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            x = np.asarray(rb.column(vec_col).to_pylist(),
                           dtype=np.float64)
            yield pa.RecordBatch.from_arrays(
                [rb.column(id_col),
                 pa.array(((x - m) @ vv).tolist(), pa.float64())],
                names=[id_col, "pc1"])

    return src.mapInArrow(project, f"{id_col} long, pc1 double") \
        .select(id_col, F.round("pc1", 6).alias("pc1"))


def dbscan_from_pairs(pairs: DataFrame, min_pts: int,
                      id_col: str = "id",
                      src: str = "a", dst: str = "b") -> DataFrame:
    """DBSCAN from a precomputed ε-neighbor pair list →
    ``(id, cluster, role)`` with role ``core``/``border`` (noise
    points are ABSENT — they belong to no cluster by definition).

    Decoupling neighbor generation from clustering is the
    scale-shape: ``pairs`` can come from the exact pairwise join (the
    oracle-checkable config), the LSH-blocked candidate path, or an
    ANN index — the clustering below is identical. Semantics:

    - core: ≥ ``min_pts`` ε-neighbors (standard DBSCAN counts the
      point itself; we count NEIGHBORS, so pass ``min_pts`` already
      decremented if replicating another library's parameter).
    - clusters = connected components over CORE–CORE pairs
      (``components.connected_components`` — driver UF small, label
      propagation at scale), cluster id = min member id.
    - border: non-core with ≥1 core neighbor, assigned to its
      MINIMUM core neighbor's cluster — canonical DBSCAN leaves this
      tie arbitrary (order-dependent); the min rule makes it
      deterministic and replayable.

    ``pairs`` may be directed or symmetric; it is symmetrized and
    self-pairs dropped before counting, so either convention works.
    """
    from .components import connected_components

    p = (pairs.select(F.col(src).alias("x"), F.col(dst).alias("y"))
         .filter(F.col("x") != F.col("y")))
    sym = p.unionByName(p.select(F.col("y").alias("x"),
                                 F.col("x").alias("y"))).distinct() \
        .localCheckpoint(eager=True)
    deg = sym.groupBy("x").agg(F.count(F.lit(1)).alias("n_nb"))
    core = deg.filter(F.col("n_nb") >= min_pts) \
        .select(F.col("x").alias("node"))
    core_edges = (sym
                  .join(core.select(F.col("node").alias("x")), "x")
                  .join(core.select(F.col("node").alias("y")), "y")
                  .select(F.col("x").alias("src"),
                          F.col("y").alias("dst")))
    cc = connected_components(core_edges,
                              core.select(F.col("node").alias("id")),
                              id_col="id")
    core_out = cc.select(F.col("id"), F.col("component").alias("cluster"),
                         F.lit("core").alias("role"))
    border = (sym.join(core.select(F.col("node").alias("y")), "y")
              .join(core.select(F.col("node").alias("x")), "x",
                    "left_anti")
              .groupBy("x").agg(F.min("y").alias("nb_core")))
    border_out = (border
                  .join(cc.select(F.col("id").alias("nb_core"),
                                  F.col("component").alias("cluster")),
                        "nb_core")
                  .select(F.col("x").alias("id"), "cluster",
                          F.lit("border").alias("role")))
    return core_out.unionByName(border_out).select(
        F.col("id").alias(id_col), "cluster", "role")
