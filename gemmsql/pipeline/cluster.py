"""Embedding clustering — the iterative-algorithm pattern on Spark.

Lloyd's k-means over the ``embeddings`` table, Spark-first:

- deterministic init: the K vectors with the smallest ``md5('km' ||
  vec_id)`` (the same closed-form hash-sample rule as
  ``similarity._pq_centroids`` / ``ivf_topk``) — no RNG state; the
  per-iteration centroid means are float sums merged in shuffle order,
  so reruns may differ at the ulp level (k-means invariants, not bit
  equality, are what the tests pin);
- each iteration is ONE narrow map + ONE bounded shuffle: centroids
  broadcast to a ``mapInPandas`` assign/partial-sum kernel that emits
  one ``(cluster, sum_vec, count)`` partial per cluster per Arrow
  batch, merged by an in-row ``zip_with`` sum — the shuffle carries
  O(K * n_batches) rows, never O(N);
- the driver holds only the K x D centroid matrix (O(K) collect per
  iteration — the classic Spark iterative shape, not an O(N) one).

At 100 TB this is exactly how embedding-space corpus maps (topic
buckets, dedup pre-clusters, data-mixture audits) are built: iterations
are bounded (default 5), each costing one pass over the corpus.

Non-SQL-expressible (iterative), so verification is pytest-differential
against a NumPy Lloyd's reference plus the k-means invariants
(monotone non-increasing WCSS; final assignment = argmin over final
centroids) — the same treatment the reference gives its stochastic
sampler (SURVEY.md §2.6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemmsql.datamodel import embeddings_vectors

KM_K = 16
KM_ITERS = 5


def _km_seed_centroids(vec: DataFrame, k: int) -> np.ndarray:
    rows = (
        vec.withColumn(
            "hkey", F.md5(F.concat(F.lit("km"), F.col("i").cast("string")))
        )
        .orderBy("hkey", "i")
        .limit(k)
        .select("vec")
        .collect()
    )
    return np.asarray([r["vec"] for r in rows], dtype=np.float64)


def _assign_partials(vec: DataFrame, cent_bc) -> DataFrame:
    """One pass: nearest-centroid assignment + per-batch partial sums.

    Emits (cluster, n, sums) — at most K rows per Arrow batch."""

    def run(batches):
        c = cent_bc.value  # (K, D)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(axis=1)  # ties -> smallest cluster id
            out_c, out_n, out_s = [], [], []
            for cl in np.unique(a):
                m = a == cl
                out_c.append(int(cl))
                out_n.append(int(m.sum()))
                out_s.append(x[m].sum(axis=0))
            yield pd.DataFrame({"cluster": out_c, "n": out_n, "sums": out_s})

    return vec.select("vec").mapInPandas(
        run, "cluster long, n long, sums array<double>"
    )


def kmeans_embeddings(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = KM_K,
    iters: int = KM_ITERS,
) -> DataFrame:
    """Lloyd's k-means -> final assignment ``(i, cluster, d2)``.

    ``d2`` is the squared L2 distance to the point's final centroid.
    Centroid update is the exact mean of merged partials; an empty
    cluster keeps its previous centroid (standard Lloyd's handling,
    deterministic)."""
    vec = embeddings_vectors(spark, sf_dir).select("i", "vec")
    sc = spark.sparkContext
    cent = _km_seed_centroids(vec, k)

    for _ in range(iters):
        bc = sc.broadcast(cent)
        parts = _assign_partials(vec, bc)
        merged = (
            parts.groupBy("cluster")
            .agg(
                F.sum("n").alias("n"),
                F.aggregate(
                    F.collect_list("sums"),
                    F.transform(F.element_at(F.collect_list("sums"), 1),
                                lambda _: F.lit(0.0)),
                    lambda acc, s: F.zip_with(acc, s, lambda a, b: a + b),
                ).alias("sums"),
            )
            .collect()
        )
        new = cent.copy()
        for r in merged:
            new[int(r["cluster"])] = (
                np.asarray(r["sums"], dtype=np.float64) / float(r["n"])
            )
        cent = new

    bc = sc.broadcast(cent)

    def final_assign(batches):
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(axis=1)
            yield pd.DataFrame({
                "i": pdf["i"].to_numpy(),
                "cluster": a.astype(np.int64),
                "d2": d2[np.arange(len(a)), a],
            })

    return vec.mapInPandas(final_assign, "i long, cluster long, d2 double")


def kmeans_numpy(x: np.ndarray, seed_idx: np.ndarray, iters: int) -> np.ndarray:
    """Driver-side Lloyd's reference (same init, same empty-cluster
    rule) for the differential test."""
    cent = x[seed_idx].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(axis=1)
        for cl in range(len(cent)):
            m = a == cl
            if m.any():
                cent[cl] = x[m].mean(axis=0)
    return cent


def pca_project(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = 16,
) -> DataFrame:
    """PCA projection of the embeddings to ``k`` components ->
    ``(i, proj array<double>)`` — the dimensionality-reduction step run
    before ANN indexing / clustering at scale.

    Spark shape: the D x D second-moment matrix and the column sums
    come from ONE distributed pass — each Arrow batch emits D rows
    ``(j, g = row j of X^T X, s = column-j sum, n = batch rows)``,
    merged by a D-group in-row ``zip_with`` sum (the same
    O(D^2)-shuffle monoid as ``gate.gram_gate_both``); the
    eigendecomposition is driver-side on the tiny D x D matrix
    (O(D^3) ~ microseconds at D=64, the standard big-data PCA split);
    the projection is a broadcast narrow map.  Driver memory is O(D^2)
    — corpus-size independent.  Components follow the deterministic
    sign convention (largest-|.| coordinate positive) so results are
    reproducible across runs and BLAS builds."""
    vec = embeddings_vectors(spark, sf_dir).select("i", "vec")

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
            g = x.T @ x
            yield pd.DataFrame({
                "j": np.arange(g.shape[0], dtype=np.int64),
                "g": list(g),
                "s": x.sum(axis=0),
                "n": len(x),
            })

    parts = vec.select("vec").mapInPandas(
        partial, "j long, g array<double>, s double, n long"
    )
    zero = F.transform(F.element_at(F.collect_list("g"), 1), lambda _: F.lit(0.0))
    rows = (
        parts.groupBy("j")
        .agg(
            F.aggregate(
                F.collect_list("g"), zero,
                lambda a, p: F.zip_with(a, p, lambda x, y: x + y),
            ).alias("g"),
            F.sum("s").alias("s"),
            F.sum("n").alias("n"),  # every batch contributes n once per j
        )
        .orderBy("j")
        .collect()
    )
    g = np.asarray([r["g"] for r in rows], dtype=np.float64)
    n = int(rows[0]["n"])
    mu = np.asarray([r["s"] for r in rows], dtype=np.float64) / n
    cov = g / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order]  # (D, k)
    # deterministic sign: largest-|.| coordinate of each component > 0
    for c in range(comps.shape[1]):
        jmax = np.argmax(np.abs(comps[:, c]))
        if comps[jmax, c] < 0:
            comps[:, c] = -comps[:, c]
    bc = spark.sparkContext.broadcast((mu, comps))

    def project(batches):
        m, w = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
            p = (x - m[None, :]) @ w
            yield pd.DataFrame({"i": pdf["i"].to_numpy(), "proj": list(p)})

    return vec.mapInPandas(project, "i long, proj array<double>")


# ---------------------------------------------------------------------------
# Driver-gated single-step twins: the iterative ops' distributed kernels
# expressed as one SQL-expressible step each (full hash parity), so
# k-means and PCA carry at least one oracle-gated leg (the loop around
# them is plain driver code — the part SQL can't express).
# ---------------------------------------------------------------------------


def _quant(mat: np.ndarray) -> np.ndarray:
    """floor(v*1e6 + .5) — the gate grid (gemmsql/ops/gate.py)."""
    return np.floor(mat * 1e6 + 0.5)


def kmeans_assign_step(
    spark: SparkSession, sf_dir: str, *, k: int = KM_K
) -> DataFrame:
    """ONE Lloyd assignment step -> ``(i, cluster, d2)``: every vector
    to its nearest md5('km')-seed centroid by EXACT integer L2 on the
    1e6 grid (tie -> smaller cluster id).  This is the per-iteration
    distributed kernel of :func:`kmeans_embeddings` (the float
    production loop); quantized here so the DuckDB twin replays it
    bit-for-bit.  Scale shape: O(K) centroid collect, broadcast, one
    narrow map — no shuffle at all.  ``cluster`` is the seed-sample
    position (ROW_NUMBER order), ``d2`` the squared distance rounded
    to 6 decimals in exact integer arithmetic."""
    vec = embeddings_vectors(spark, sf_dir).select("i", "vec")
    rows = (
        vec.withColumn(
            "hkey", F.md5(F.concat(F.lit("km"), F.col("i").cast("string")))
        )
        .orderBy("hkey", "i")
        .limit(k)
        .select("vec")
        .collect()
    )
    cq = _quant(np.asarray([r["vec"] for r in rows], dtype=np.float64))
    bc = spark.sparkContext.broadcast(cq)

    def run(batches):
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xq = _quant(np.asarray(pdf["vec"].tolist(), dtype=np.float64))
            d2 = ((xq[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(axis=1)  # first min = smallest cluster id
            yield pd.DataFrame({
                "i": pdf["i"].to_numpy(),
                "cluster": a.astype(np.int64),
                "d2": d2[np.arange(len(a)), a].astype(np.int64),
            })

    out = vec.mapInPandas(run, "i long, cluster long, d2 long")
    micro = F.expr("(d2 + 500000) div 1000000")  # d2 >= 0: half up
    return out.select(
        "i", "cluster", (micro.cast("double") / F.lit(1e6)).alias("d2")
    )


KMEANS_ASSIGN_STEP_SQL = f"""
WITH coo AS (
  SELECT vec_id AS i,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS j,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) AS vq
  FROM embeddings
),
ksel AS (
  SELECT vec_id AS ci, ROW_NUMBER() OVER (
    ORDER BY md5('km' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster
  FROM embeddings
  ORDER BY md5('km' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {KM_K}
),
d2t AS (
  SELECT a.i, k.cluster,
         CAST(SUM((a.vq - b.vq) * (a.vq - b.vq)) AS BIGINT) AS d2
  FROM coo a JOIN coo b USING (j) JOIN ksel k ON k.ci = b.i
  GROUP BY 1, 2
),
best AS (
  SELECT i, cluster, d2,
         ROW_NUMBER() OVER (PARTITION BY i ORDER BY d2, cluster) AS rn
  FROM d2t
)
SELECT i, cluster,
       CAST((d2 + 500000) // 1000000 AS DOUBLE) / 1000000.0 AS d2
FROM best WHERE rn = 1
"""


def pca_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed kernel of :func:`pca_project` as an oracle-gated
    step -> one row per (j1, j2) with the EXACT second-moment matrix on
    the 1e6 grid plus the column sums and row count — everything the
    driver-side eigendecomposition consumes (cov = G/n - mu mu^T is a
    deterministic scalar expression over these integers; eigh is the
    O(D^3) driver step SQL can't express).

    Spark shape: the same one-pass map-side D x D int64 partial +
    ``sum(long)`` merge as ``gate.gram_gate_both`` — O(D^2) shuffle,
    corpus-size independent."""
    vec = embeddings_vectors(spark, sf_dir).select("vec")

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xq = _quant(
                np.asarray(pdf["vec"].tolist(), dtype=np.float64)
            ).astype(np.int64)
            # int64 matmul: exact for any Arrow batch size (per-cell
            # bound batch * (2e6)^2 ~ 4e16 << 2^63), unlike a float64
            # product which loses exactness past 2^53
            g = xq.T @ xq
            yield pd.DataFrame({
                "j1": np.arange(g.shape[0], dtype=np.int64),
                "gn": list(g),
                "sn": xq.sum(axis=0),
                "n": len(pdf),
            })

    parts = vec.mapInPandas(
        partial, "j1 long, gn array<long>, sn long, n long"
    )
    from gemmsql.caching import scoped_cache

    zero = F.transform(
        F.element_at(F.collect_list("gn"), 1), lambda _: F.lit(0).cast("long")
    )
    # D rows of D-long arrays — tiny; cached so the column-sum join
    # below reads it instead of re-running the corpus pass (one scan)
    merged = scoped_cache(
        parts.groupBy("j1").agg(
            F.aggregate(
                F.collect_list("gn"), zero,
                lambda a, p: F.zip_with(a, p, lambda x, y: x + y),
            ).alias("gn"),
            F.sum("sn").alias("sn"),
            F.sum("n").alias("n"),  # each batch contributes n once per j1
        ),
        fresh_scope=True,
    )
    s = merged.select(F.col("j1").alias("j"), F.col("sn").alias("s"))
    out = merged.select(
        "j1", F.posexplode("gn").alias("j2", "g"), "sn", "n"
    )
    micro = F.expr("(abs(g) + 500000) div 1000000")
    gm = F.when(F.col("g") < 0, -micro).otherwise(micro)
    return (
        out.join(s.withColumnRenamed("j", "j2"), "j2")
        .select(
            "j1",
            F.col("j2").cast("long").alias("j2"),
            (gm.cast("double") / F.lit(1e6)).alias("gm"),
            (F.col("sn").cast("double") / F.lit(1e6)).alias("s1"),
            (F.col("s").cast("double") / F.lit(1e6)).alias("s2"),
            F.col("n").cast("long").alias("n"),
        )
    )


PCA_MOMENTS_SQL = """
WITH coo AS (
  SELECT vec_id AS i,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS j,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) AS vq
  FROM embeddings
),
nt AS (SELECT COUNT(*) AS n FROM embeddings),
g AS (SELECT a.j AS j1, b.j AS j2, CAST(SUM(a.vq * b.vq) AS BIGINT) AS g
      FROM coo a JOIN coo b USING (i) GROUP BY 1, 2),
s AS (SELECT j, CAST(SUM(vq) AS BIGINT) AS s FROM coo GROUP BY 1)
SELECT g.j1, g.j2,
       CAST(CASE WHEN g.g < 0 THEN -((ABS(g.g) + 500000) // 1000000)
                 ELSE (ABS(g.g) + 500000) // 1000000 END AS DOUBLE)
         / 1000000.0 AS gm,
       CAST(s1.s AS DOUBLE) / 1000000.0 AS s1,
       CAST(s2.s AS DOUBLE) / 1000000.0 AS s2,
       CAST(nt.n AS BIGINT) AS n
FROM g
JOIN s s1 ON s1.j = g.j1
JOIN s s2 ON s2.j = g.j2
CROSS JOIN nt
"""
