"""Backward passes — explicit gradient jobs (no Spark autograd).

The reference computes gradients with a *recompute* strategy: backward
re-runs the chunker, recomputes per-tile state from saved inputs (+ the
forward accumulator), and scatter-adds local gradients into the input
slots (reference core.py:42-58, ``g.add_`` at core.py:56-57).  Here each
backward is a second Spark job over the same tiled layout; the
scatter-add is a ``groupBy(input id).agg(sum)`` — Spark's partial+final
aggregation is the scatter-add monoid.

Both sweeps share one layout, resolved once per call from the base
inputs (``_blocked.plan_tiles``): the broadcast-or-tiled pick and, on
the tiled path, the grid of block ids, so pass 2 reuses pass 1's grid
instead of re-deriving it from pass 1's output.  Pass 1 (per-row
forward statistics) is a ``_blocked.fold``, merged on the tiled path
only; pass 2 scatter-adds into both sides via ``_blocked.tile_partials``
and always merges (:func:`_merge_vec_partials`).

Implemented (matching the reference's coverage):
- matmul grads (the primitive under MLP, reference mlp.py:9-16)
- mlp_bwd   (M2, reference mlp.py:9-16)
- attention_bwd (A2, reference attention.py:11-29)
- xentropy_bwd  (X2, reference xentropy.py:15-37)
Entropy backward is intentionally NOT implemented, matching the
reference stub (entropy.py:14-16).  Sampling has no gradient
(sampling.py:18-19).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemmsql.ops._blocked import (
    Grid, fold, lse_merge, plan_tiles, row_logsumexp, tile_partials, vec_mat,
)
from gemmsql.ops.matmul import coo_matmul


def matmul_grads(
    a: DataFrame, b: DataFrame, g: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """C = A @ B, cotangent G -> (gA = G B^T, gB = A^T G), all COO."""
    bt = b.select(F.col("j").alias("i"), F.col("i").alias("j"), "v")
    at = a.select(F.col("j").alias("i"), F.col("i").alias("j"), "v")
    return coo_matmul(g, bt), coo_matmul(at, g)


def mlp_bwd(
    x_vec: DataFrame,
    g_vec: DataFrame,
    p: np.ndarray,
    q: np.ndarray,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Gradients of ``relu(X P) Q`` wrt (X, P, Q) given per-row cotangent
    G (vector-row DataFrame aligned with ``x_vec`` on ``i``).

    gX is a narrow per-row map; gP and gQ are sums over rows of outer
    products — computed as map-side NumPy partials with an O(D^2)
    shuffle, the same monoid layout as :func:`gemmsql.ops.matmul.gram`
    (reference recompute: h = relu(x@p) is rebuilt per tile, mlp.py:13).
    """
    spark = x_vec.sparkSession
    bw = spark.sparkContext.broadcast(
        (np.asarray(p, np.float64), np.asarray(q, np.float64))
    )
    joined = x_vec.select("i", "vec").join(
        g_vec.select("i", F.col("vec").alias("gvec")), "i"
    )

    def gx_map(batches):
        wp, wq = bw.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = vec_mat(pdf["vec"]); g = vec_mat(pdf["gvec"])
            h = x @ wp
            gh = (g @ wq.T) * (h > 0)
            yield pd.DataFrame({"i": pdf["i"].values, "vec": list(gh @ wp.T)})

    gx = joined.mapInPandas(gx_map, "i long, vec array<double>")

    def w_partials(batches):
        wp, wq = bw.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = vec_mat(pdf["vec"]); g = vec_mat(pdf["gvec"])
            h = x @ wp
            a = np.maximum(h, 0.0)
            gq_p = a.T @ g                    # (K, N)
            gh = (g @ wq.T) * (h > 0)
            gp_p = x.T @ gh                   # (M, K)
            rows = []
            for name, m in (("gp", gp_p), ("gq", gq_p)):
                r, c = np.meshgrid(
                    np.arange(m.shape[0]), np.arange(m.shape[1]), indexing="ij"
                )
                rows.append(
                    pd.DataFrame(
                        {"w": name, "i": r.ravel(), "j": c.ravel(), "pv": m.ravel()}
                    )
                )
            yield pd.concat(rows, ignore_index=True)

    wp_df = joined.mapInPandas(w_partials, "w string, i long, j long, pv double")
    sums = wp_df.groupBy("w", "i", "j").agg(F.sum("pv").alias("v"))
    gp = sums.where(F.col("w") == "gp").select("i", "j", "v")
    gq = sums.where(F.col("w") == "gq").select("i", "j", "v")
    return gx, gp, gq


def _merge_vec_partials(parts: DataFrame, keys: list[str]) -> DataFrame:
    """Scatter-add of per-tile vector partials (reference core.py:56-57)
    in ONE shuffle: collect the few partials per key and fold them
    element-wise in-row with higher-order functions — no posexplode
    re-shuffle of every (row, dim) pair."""
    g = parts.groupBy(*keys).agg(F.collect_list("vec").alias("ps"))
    zero = F.transform(F.element_at(F.col("ps"), 1), lambda _: F.lit(0.0))
    vec = F.aggregate(
        F.col("ps"), zero,
        lambda acc, p: F.zip_with(acc, p, lambda a, b: a + b),
    )
    return g.select(*keys, vec.alias("vec"))


def attention_bwd(
    q_vec: DataFrame,
    kv_vec: DataFrame,
    g_vec: DataFrame,
    *,
    block: int = 4096,
    broadcast_kv: bool | str = "auto",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Gradients of unscaled self-attention ``softmax(Q K^T) V`` (K=V)
    wrt (Q, K, V), given per-row cotangent G aligned with Q rows.

    Recompute strategy (reference attention.py:11-29) in TWO tile
    sweeps: pass 1 fuses the forward z (per-row logsumexp) with the
    softmax-Jacobian row term r_i = sum_n w_in (g_i . v_n) — a product
    monoid of the A3 logaddexp merge and the E3 weighted-mean merge, so
    both reduce in one sweep; pass 2 emits per-tile gradient partials,
    scatter-added by the one-shuffle in-row fold.  Returns vector-row
    (gQ, gK, gV)."""
    grid = plan_tiles(broadcast_kv, q_vec, kv_vec, block)
    q_g = q_vec.select("i", "vec").join(
        g_vec.select("i", F.col("vec").alias("gvec")), "i"
    )

    # pass 1 (fused z + r): per-tile logsumexp z_t and in-tile
    # softmax-weighted row term r_t, merged per row in log space
    def zr_kernel(lids, lmat, extra, rids, rmat):
        g = vec_mat(extra["gvec"])
        s = lmat @ rmat.T
        z = row_logsumexp(s)
        w = np.exp(s - z[:, None])
        r = (w * (g @ rmat.T)).sum(axis=1)
        return pd.DataFrame({"i": lids, "z": z, "r": r})

    zr = fold(
        q_g, kv_vec, zr_kernel, "i long, z double, r double",
        merge=lse_merge("z", "r"), grid=grid, left_extra=("gvec",),
    )
    q_aug = q_g.join(zr, "i")

    # pass 2: per-tile gradient partials
    def grad_kernel(lids, lmat, extra, rids, rmat):
        g = vec_mat(extra["gvec"]); zz = extra["z"].to_numpy()
        rr = extra["r"].to_numpy()
        s = lmat @ rmat.T
        w = np.exp(s - zz[:, None])
        gs = w * (g @ rmat.T - rr[:, None])  # softmax jacobian
        gq = gs @ rmat                        # (m, F)
        gk = gs.T @ lmat                      # (n, F)
        gv = w.T @ g                          # (n, D)
        out = [
            pd.DataFrame({"which": "gq", "i": lids, "vec": list(gq)}),
            pd.DataFrame({"which": "gk", "i": rids, "vec": list(gk)}),
            pd.DataFrame({"which": "gv", "i": rids, "vec": list(gv)}),
        ]
        return pd.concat(out, ignore_index=True)

    parts = tile_partials(
        q_aug, kv_vec, grad_kernel,
        "which string, i long, vec array<double>",
        grid=grid, left_extra=("gvec", "z", "r"),
    )
    summed = _merge_vec_partials(parts, ["which", "i"])
    gq = summed.where(F.col("which") == "gq").select("i", "vec")
    gk = summed.where(F.col("which") == "gk").select("i", "vec")
    gv = summed.where(F.col("which") == "gv").select("i", "vec")
    return gq, gk, gv


def xentropy_bwd(
    pred_vec: DataFrame,
    trg_vec: DataFrame,
    *,
    block: int = 4096,
    broadcast_trg: bool | str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Gradients of ``sum_m loss_m`` for the factored cross-entropy
    (cotangent = ones): gPred_m = sum_n (softmax_mn - onehot_mn) trg_n;
    gTrg_n = sum_m (softmax_mn - onehot_mn) pred_m
    (reference xentropy.py:15-37 with g_p = 1, g_n = -1)."""
    return _xentropy_bwd(
        pred_vec, trg_vec, plan_tiles(broadcast_trg, pred_vec, trg_vec, block)
    )


def _xentropy_bwd(
    pred_vec: DataFrame, trg_vec: DataFrame, grid: Grid | None
) -> tuple[DataFrame, DataFrame]:
    """:func:`xentropy_bwd` on a resolved layout, whose grid may come
    from a frame with ``pred_vec``'s row ids."""

    def z_kernel(lids, lmat, _extra, rids, rmat):
        s = lmat @ rmat.T
        return pd.DataFrame({"i": lids, "z": row_logsumexp(s)})

    z = fold(
        pred_vec.select("i", "vec"), trg_vec, z_kernel, "i long, z double",
        merge=lse_merge("z"), grid=grid,
    )
    p_aug = pred_vec.select("i", "vec", "label").join(z, "i")

    def grad_kernel(lids, lmat, extra, rids, rmat):
        zz = extra["z"].to_numpy()
        lab = extra["label"].to_numpy()
        s = lmat @ rmat.T
        w = np.exp(s - zz[:, None]) - (lab[:, None] == rids[None, :])
        gp = w @ rmat
        gt = w.T @ lmat
        return pd.concat(
            [
                pd.DataFrame({"which": "gpred", "i": lids, "vec": list(gp)}),
                pd.DataFrame({"which": "gtrg", "i": rids, "vec": list(gt)}),
            ],
            ignore_index=True,
        )

    parts = tile_partials(
        p_aug, trg_vec, grad_kernel,
        "which string, i long, vec array<double>",
        grid=grid, left_extra=("label", "z"),
    )
    summed = _merge_vec_partials(parts, ["which", "i"])
    gpred = summed.where(F.col("which") == "gpred").select("i", "vec")
    gtrg = summed.where(F.col("which") == "gtrg").select("i", "vec")
    return gpred, gtrg
