"""Backward passes — explicit gradient jobs (no Spark autograd).

The reference computes gradients with a *recompute* strategy: backward
re-runs the chunker, recomputes per-tile state from saved inputs (+ the
forward accumulator), and scatter-adds local gradients into the input
slots (reference core.py:42-58, ``g.add_`` at core.py:56-57).  Here each
backward is a second Spark job over the same tiled layout; the
scatter-add is a ``groupBy(input id).agg(sum)`` — Spark's partial+final
aggregation is the scatter-add monoid.

Each call resolves its layout once from the base inputs
(``_blocked.plan_tiles``): the broadcast-or-tiled pick and, on the tiled
path, the grid of block ids.  The gradient sweep scatter-adds into both
sides via ``_blocked.tile_partials`` and always merges
(:func:`_merge_vec_partials`).  Its kernel needs each left row's forward
statistics (logsumexp z, and attention's row term r).  When every
kernel call sees every right row (the broadcast path, or one right
block), the kernel computes them itself: ONE sweep.  Otherwise a
right-row gradient needs the global z, so two sweeps run over one tile
frame (``_blocked.two_sweep_partials``): the first emits each left
row's z/r per right block, those partials are cogrouped with the same
tiles (one tile exchange, read twice), and the gradient kernel's group
folds them before it runs.  No merge, join or second replication sits
between the sweeps.

All output legs come out of one merge and split after it
(:func:`_legs`), so one action over every leg runs each sweep once.

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
    Grid, plan_tiles, row_logsumexp, tile_partials, two_sweep_partials, vec_mat,
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
            for leg, m in enumerate((gp_p, gq_p)):
                r, c = np.meshgrid(
                    np.arange(m.shape[0]), np.arange(m.shape[1]), indexing="ij"
                )
                rows.append(
                    pd.DataFrame(
                        {"which": leg, "i": r.ravel(), "j": c.ravel(), "pv": m.ravel()}
                    )
                )
            yield pd.concat(rows, ignore_index=True)

    # legs numbered 0 (gP) and 1 (gQ): a string ``first`` would turn
    # the sum into a sort aggregate
    wp_df = joined.mapInPandas(w_partials, "which int, i long, j long, pv double")
    sums = wp_df.groupBy("which", "i", "j").agg(
        F.sum("pv").alias("v"), F.first("which").alias("leg")
    )
    gp, gq = _legs(sums, 0, 1)
    return gx, gp, gq


def _merge_vec_partials(parts: DataFrame, keys: list[str], *aggs) -> DataFrame:
    """Scatter-add of per-tile vector partials (reference core.py:56-57)
    in ONE shuffle: collect the few partials per key and fold them
    element-wise in-row with higher-order functions — no posexplode
    re-shuffle of every (row, dim) pair.  ``aggs`` are further
    aggregate columns, kept beside ``keys``."""
    g = parts.groupBy(*keys).agg(F.collect_list("vec").alias("ps"), *aggs)
    zero = F.transform(F.element_at(F.col("ps"), 1), lambda _: F.lit(0.0))
    vec = F.aggregate(
        F.col("ps"), zero,
        lambda acc, p: F.zip_with(acc, p, lambda a, b: a + b),
    )
    return g.withColumn("vec", vec).drop("ps")


def _merge_legs(parts: DataFrame) -> DataFrame:
    """Partials ``(which, i, vec)`` merged per ``(which, i)``, plus
    ``leg``: the merge's own copy of ``which``, for :func:`_legs`."""
    return _merge_vec_partials(parts, ["which", "i"], F.first("which").alias("leg"))


def _legs(merged: DataFrame, *names: str | int) -> tuple[DataFrame, ...]:
    """One output per leg of ``merged``.  Each splits on ``leg``, an
    aggregate output, not on the grouping key ``which``: Spark pushes a
    filter on a grouping key below the aggregate, so each leg would
    re-run the merge and every sweep under it.  Split above it, all
    legs read one merge exchange and the kernels run once per call."""
    return tuple(
        merged.where(F.col("leg") == n).drop("which", "leg") for n in names
    )


def _one_sweep(grid: Grid | None) -> bool:
    """Every kernel call holds every right row: the broadcast path, or a
    grid with one right block.  The kernel can then compute the
    per-row forward statistics itself."""
    return grid is None or len(grid.right) == 1


def _softmax_rows(s: np.ndarray, gw: np.ndarray):
    """Per-row ``z = logsumexp(s)``, weights ``w = e^{s - z}`` and the
    softmax-Jacobian row term ``r = sum_n w_n gw_n``."""
    z = row_logsumexp(s)
    w = np.exp(s - z[:, None])
    return z, w, (w * gw).sum(axis=1)


_PARTS = "which string, i long, vec array<double>"


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
    Returns vector-row (gQ, gK, gV)."""
    grid = plan_tiles(broadcast_kv, q_vec, kv_vec, block)
    return _legs(_merge_legs(_attention_parts(q_vec, kv_vec, g_vec, grid)),
                 "gq", "gk", "gv")


def _attention_parts(
    q_vec: DataFrame, kv_vec: DataFrame, g_vec: DataFrame, grid: Grid | None
) -> DataFrame:
    """:func:`attention_bwd`'s gradient partials ``(which, i, vec)``.

    Recompute strategy (reference attention.py:11-29).  The kernel needs
    each row's forward z (logsumexp) and softmax-Jacobian row term
    r_i = sum_n w_in (g_i . v_n).  When it sees every kv row
    (:func:`_one_sweep`) it computes them itself; otherwise a first
    sweep of the same tiles folds them per kv block, as a product monoid
    of the A3 logaddexp merge and the E3 weighted-mean merge, and the
    gradient sweep folds those partials in-group
    (``_blocked.two_sweep_partials``)."""
    q_g = q_vec.select("i", "vec").join(
        g_vec.select("i", F.col("vec").alias("gvec")), "i"
    )

    def zr_kernel(lids, lmat, extra, rids, rmat):
        g = vec_mat(extra["gvec"])
        z, _, r = _softmax_rows(lmat @ rmat.T, g @ rmat.T)
        return pd.DataFrame({"i": lids, "z": z, "r": r})

    def grad_kernel(lids, lmat, extra, rids, rmat):
        g = vec_mat(extra["gvec"])
        s = lmat @ rmat.T
        gw = g @ rmat.T
        if "z" in extra:
            w = np.exp(s - extra["z"].to_numpy()[:, None])
            r = extra["r"].to_numpy()
        else:
            _, w, r = _softmax_rows(s, gw)
        gs = w * (gw - r[:, None])            # softmax jacobian
        gq = gs @ rmat                        # (m, F)
        gk = gs.T @ lmat                      # (n, F)
        gv = w.T @ g                          # (n, D)
        out = [
            pd.DataFrame({"which": "gq", "i": lids, "vec": list(gq)}),
            pd.DataFrame({"which": "gk", "i": rids, "vec": list(gk)}),
            pd.DataFrame({"which": "gv", "i": rids, "vec": list(gv)}),
        ]
        return pd.concat(out, ignore_index=True)

    if _one_sweep(grid):
        return tile_partials(
            q_g, kv_vec, grad_kernel, _PARTS, grid=grid, left_extra=("gvec",)
        )
    return two_sweep_partials(
        q_g, kv_vec, zr_kernel, ("z", "r"), grad_kernel, _PARTS,
        grid=grid, left_extra=("gvec",),
    )


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
    grid = plan_tiles(broadcast_trg, pred_vec, trg_vec, block)
    return _legs(_merge_legs(_xentropy_parts(pred_vec, trg_vec, grid)),
                 "gpred", "gtrg")


def _xentropy_parts(
    pred_vec: DataFrame, trg_vec: DataFrame, grid: Grid | None
) -> DataFrame:
    """:func:`xentropy_bwd`'s gradient partials ``(which, i, vec)`` on a
    resolved layout, whose grid may come from a frame with
    ``pred_vec``'s row ids.  The kernel computes each row's forward z
    itself when it sees every trg row (:func:`_one_sweep`); otherwise a
    first sweep of the same tiles folds z per trg block and the
    gradient sweep folds those partials in-group
    (``_blocked.two_sweep_partials``)."""
    left = pred_vec.select("i", "vec", "label")

    def z_kernel(lids, lmat, _extra, rids, rmat):
        return pd.DataFrame({"i": lids, "z": row_logsumexp(lmat @ rmat.T)})

    def grad_kernel(lids, lmat, extra, rids, rmat):
        s = lmat @ rmat.T
        z = extra["z"].to_numpy() if "z" in extra else row_logsumexp(s)
        lab = extra["label"].to_numpy()
        w = np.exp(s - z[:, None]) - (lab[:, None] == rids[None, :])
        gp = w @ rmat
        gt = w.T @ lmat
        return pd.concat(
            [
                pd.DataFrame({"which": "gpred", "i": lids, "vec": list(gp)}),
                pd.DataFrame({"which": "gtrg", "i": rids, "vec": list(gt)}),
            ],
            ignore_index=True,
        )

    if _one_sweep(grid):
        return tile_partials(
            left, trg_vec, grad_kernel, _PARTS, grid=grid, left_extra=("label",)
        )
    return two_sweep_partials(
        left, trg_vec, z_kernel, ("z",), grad_kernel, _PARTS,
        grid=grid, left_extra=("label",),
    )
