"""Chained-gradient composition — end-to-end backprop through stacked ops.

The reference's factory returns ``torch.autograd.Function``s, so two ops
compose into a differentiable graph for free: ``loss = xentropy(mlp(x))``
backprops end-to-end via autograd (reference core.py:37-58 chains
``setup_context``/``backward``; mlp.py:9-16 and xentropy.py:15-37 are the
per-op vjps).  Spark has no autograd, so composition here is the chain
rule made explicit: run the downstream op's backward to get the
cotangent of the intermediate, then feed that cotangent into the
upstream op's backward.  Each per-op backward is the already-verified
recompute-strategy job from :mod:`gemmsql.ops.backward`.

Scale shape: the intermediate activations (``pred`` rows) and the
intermediate cotangent (``gpred`` rows) are vector-row tables — one row
per example, never materialized densely on the driver.  ``gpred`` is
scoped-cached because the upstream backward consumes it in several
output legs (gX narrow map + gP/gQ weight partials); without the cache
the whole downstream backward sub-DAG would re-run per leg.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from gemmsql.caching import scoped_cache
from gemmsql.ops._blocked import plan_tiles
from gemmsql.ops.backward import (
    _merge_vec_partials,
    _xentropy_bwd,
    attention_bwd,
    mlp_bwd,
)
from gemmsql.ops.mlp import mlp


def xentropy_mlp_grads(
    x_vec: DataFrame,
    trg_vec: DataFrame,
    p: np.ndarray,
    q: np.ndarray,
    *,
    block: int = 4096,
    broadcast_trg: bool | str = "auto",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Gradients of ``loss = sum_m xentropy(mlp(x_m; P, Q), trg)`` wrt
    (X, P, Q, trg) — the reference's composed training step
    (``xentropy(mlp(x))``, reference mlp.py:59-60 + xentropy.py:66-67).

    ``x_vec`` must carry ``(i, vec, label)``; ``trg_vec`` carries
    ``(i, vec)`` target embeddings (class ``n`` scores against row
    ``n`` of trg, reference xentropy.py:44-49).

    Chain:

    1. ``pred = relu(X P) Q`` — forward recompute, narrow map (labels
       pass through in-map, no re-join);
    2. ``(gpred, gtrg) = xentropy_bwd(pred, trg)`` — downstream vjp;
    3. ``(gx, gp, gq) = mlp_bwd(x, gpred, P, Q)`` — upstream vjp with
       the intermediate cotangent, exactly ``dL/dX = dL/dpred ·
       dpred/dX`` etc.

    Returns ``(gx, gp, gq, gtrg)``: gx/gtrg vector-row, gp/gq COO.
    """
    pred = mlp(x_vec, p, q, keep={"label": "long"})
    # pred keeps x's row ids, so x's footers give its block ids
    gpred, gtrg = _xentropy_bwd(
        pred, trg_vec, plan_tiles(broadcast_trg, x_vec, trg_vec, block)
    )
    gpred = scoped_cache(gpred)
    gx, gp, gq = mlp_bwd(x_vec.select("i", "vec"), gpred, p, q)
    return gx, gp, gq, gtrg


def attention_mlp_grads(
    x_vec: DataFrame,
    g_vec: DataFrame,
    p: np.ndarray,
    q: np.ndarray,
    *,
    block: int = 4096,
    broadcast_kv: bool | str = "auto",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Gradients of ``out = selfattention(mlp(x; P, Q))`` wrt
    (X, P, Q), given per-row cotangent G on the attention output — the
    chain rule across a DIFFERENT op pair than
    :func:`xentropy_mlp_grads`, showing composition is generic: any
    op's backward can feed any other's.

    Self-attention reuses the intermediate ``pred`` as Q, K and V, so
    the intermediate cotangent is the SUM of the three attention vjp
    legs (the multivariable chain rule for a shared input):
    ``g_pred = gQ + gK + gV``; that one merged vector-row table then
    drives the MLP backward.  Returns ``(gx, gp, gq)``.
    """
    pred = scoped_cache(mlp(x_vec, p, q), fresh_scope=True)
    gq_leg, gk_leg, gv_leg = attention_bwd(
        pred, pred, g_vec, block=block, broadcast_kv=broadcast_kv
    )
    legs = (
        gq_leg.select("i", "vec")
        .unionByName(gk_leg.select("i", "vec"))
        .unionByName(gv_leg.select("i", "vec"))
    )
    g_pred = scoped_cache(_merge_vec_partials(legs, ["i"]))
    gx, gp, gq = mlp_bwd(x_vec.select("i", "vec"), g_pred, p, q)
    return gx, gp, gq
