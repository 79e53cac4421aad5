"""Gradient checks: Spark backward jobs vs analytic NumPy gradients
(the reference validates gradients the same differential way,
core.py:75-87)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gemmsql.datamodel import embeddings_coo, embeddings_vectors
from gemmsql.ops.backward import attention_bwd, matmul_grads, mlp_bwd, xentropy_bwd
from tests.conftest import SF_SMOKE

#: the three layouts of a backward over n = 96 rows: two right blocks
#: (two sweeps), one right block, and the broadcast path (one sweep each)
LAYOUTS = {
    "two_sweeps": {"block": 48, "broadcast": False},
    "one_right_block": {"block": 96, "broadcast": False},
    "broadcast": {"broadcast": True},
}
layouts = pytest.mark.parametrize("layout", list(LAYOUTS))


def _opts(layout: str, arg: str) -> dict:
    opts = dict(LAYOUTS[layout])
    opts[arg] = opts.pop("broadcast")
    return opts


def _close(got, want):
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


def _subset_vec(spark, n=96):
    vec = embeddings_vectors(spark, SF_SMOKE)
    return vec.where(vec["i"] < n)


def _dense(df, col="vec"):
    pdf = df.orderBy("i").toPandas()
    return np.asarray(pdf[col].tolist(), dtype=np.float64)


def _coo(df, shape):
    return df.orderBy("i", "j").toPandas()["v"].to_numpy().reshape(shape)


def test_matmul_grads(spark, emb_matrix):
    _, x, _ = emb_matrix
    coo = embeddings_coo(spark, SF_SMOKE)
    et = coo.select(coo["j"].alias("i"), coo["i"].alias("j"), "v")
    # C = E^T E ; G = ones -> gA = G B^T with A = E^T, B = E
    g_rows = [(int(i), int(j), 1.0) for i in range(x.shape[1]) for j in range(x.shape[1])]
    g = spark.createDataFrame(g_rows, "i long, j long, v double")
    ga, gb = matmul_grads(et, coo, g)
    want_ga = np.ones((x.shape[1], x.shape[1])) @ x.T  # (D, N)
    got_ga = ga.orderBy("i", "j").toPandas()["v"].to_numpy().reshape(want_ga.shape)
    assert np.allclose(got_ga, want_ga)
    want_gb = x @ np.ones((x.shape[1], x.shape[1]))
    got_gb = gb.orderBy("i", "j").toPandas()["v"].to_numpy().reshape(want_gb.shape)
    assert np.allclose(got_gb, want_gb)


def test_mlp_bwd(spark, emb_matrix):
    _, xfull, _ = emb_matrix
    n = 96
    x = xfull[:n]
    rng = np.random.default_rng(0)
    p = rng.normal(size=(x.shape[1], 24))
    q = rng.normal(size=(24, 16))
    g = rng.normal(size=(n, 16))
    vec = _subset_vec(spark, n)
    gdf = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(n), "vec": list(g)}), "i long, vec array<double>"
    )
    gx, gp, gq = mlp_bwd(vec.select("i", "vec"), gdf, p, q)
    h = x @ p
    gh = (g @ q.T) * (h > 0)
    assert np.allclose(_dense(gx), gh @ p.T)
    got_gp = gp.orderBy("i", "j").toPandas()["v"].to_numpy().reshape(p.shape)
    assert np.allclose(got_gp, x.T @ gh)
    got_gq = gq.orderBy("i", "j").toPandas()["v"].to_numpy().reshape(q.shape)
    assert np.allclose(got_gq, np.maximum(h, 0).T @ g)


@layouts
def test_attention_bwd(spark, emb_matrix, layout):
    _, xfull, _ = emb_matrix
    n = 96
    x = xfull[:n]
    rng = np.random.default_rng(1)
    g = rng.normal(size=x.shape[0:1] + (x.shape[1],))[:n]
    vec = _subset_vec(spark, n).select("i", "vec")
    gdf = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(n), "vec": list(g)}), "i long, vec array<double>"
    )
    gq, gk, gv = attention_bwd(vec, vec, gdf, **_opts(layout, "broadcast_kv"))
    s = x @ x.T
    w = np.exp(s - s.max(1, keepdims=True))
    w /= w.sum(1, keepdims=True)
    gv_want = w.T @ g
    gw = g @ x.T
    gs = w * (gw - (w * gw).sum(1, keepdims=True))
    gq_want = gs @ x
    gk_want = gs.T @ x
    _close(_dense(gv), gv_want)
    _close(_dense(gq), gq_want)
    _close(_dense(gk), gk_want)
    # numerical spot-check of d(out.g)/dQ[0,0]
    eps = 1e-6

    def loss(q_in):
        s2 = q_in @ x.T
        w2 = np.exp(s2 - s2.max(1, keepdims=True))
        w2 /= w2.sum(1, keepdims=True)
        return float(((w2 @ x) * g).sum())

    x1 = x.copy(); x1[0, 0] += eps
    x2 = x.copy(); x2[0, 0] -= eps
    num = (loss(x1) - loss(x2)) / (2 * eps)
    # only the Q-path derivative (K held fixed at x)
    assert abs(num - gq_want[0, 0]) < 1e-4


@layouts
def test_xentropy_mlp_grads_chain(spark, emb_matrix, layout):
    """Composed gradient of loss = xentropy(mlp(x)) — the reference's
    chained training step (autograd composition, reference core.py:37-58)
    as explicit chain rule; checked against the analytic NumPy chain AND
    a finite difference through the WHOLE composition."""
    from gemmsql.ops.chain import xentropy_mlp_grads

    _, xfull, labfull = emb_matrix
    n = 96
    x = xfull[:n]
    lab = labfull[:n]
    rng = np.random.default_rng(7)
    d = x.shape[1]
    p = rng.normal(size=(d, 24))
    q = rng.normal(size=(24, d))
    vec = _subset_vec(spark, n)
    gx, gp, gq, gtrg = xentropy_mlp_grads(
        vec.select("i", "vec", "label"), vec.select("i", "vec"), p, q,
        **_opts(layout, "broadcast_trg"),
    )

    # analytic NumPy chain
    h = x @ p
    a = np.maximum(h, 0.0)
    pred = a @ q
    s = pred @ x.T  # trg = x
    w = np.exp(s - s.max(1, keepdims=True))
    w /= w.sum(1, keepdims=True)
    onehot = (lab[:, None] == np.arange(n)[None, :]).astype(float)
    dlt = w - onehot
    gpred = dlt @ x
    gtrg_want = dlt.T @ pred
    gh = (gpred @ q.T) * (h > 0)
    gx_want = gh @ p.T
    gp_want = x.T @ gh
    gq_want = a.T @ gpred

    _close(_dense(gx), gx_want)
    _close(_dense(gtrg), gtrg_want)
    _close(_coo(gp, p.shape), gp_want)
    _close(_coo(gq, q.shape), gq_want)

    # finite difference through the composition wrt P[0,0] and X[0,0]
    def loss(x_in, p_in):
        pr = np.maximum(x_in @ p_in, 0.0) @ q
        ss = pr @ x.T  # trg fixed at x
        z = np.log(np.exp(ss - ss.max(1, keepdims=True)).sum(1)) + ss.max(1)
        true_s = ss[np.arange(n), lab.astype(int)]
        return float((z - true_s).sum())

    eps = 1e-6
    p1 = p.copy(); p1[0, 0] += eps
    p2 = p.copy(); p2[0, 0] -= eps
    assert abs((loss(x, p1) - loss(x, p2)) / (2 * eps) - gp_want[0, 0]) < 1e-4
    x1 = x.copy(); x1[0, 0] += eps
    x2 = x.copy(); x2[0, 0] -= eps
    # X enters via pred only here (trg held fixed): matches the gx leg
    assert abs((loss(x1, p) - loss(x2, p)) / (2 * eps) - gx_want[0, 0]) < 1e-4


@layouts
def test_attention_mlp_grads_chain(spark, emb_matrix, layout):
    """Second composed pair — selfattention(mlp(x)) — pinning that the
    chain framework is generic and that a SHARED intermediate (pred is
    Q, K and V at once) sums its three vjp legs before chaining."""
    from gemmsql.ops.chain import attention_mlp_grads

    _, xfull, _ = emb_matrix
    n = 96
    x = xfull[:n]
    rng = np.random.default_rng(11)
    d = x.shape[1]
    p = rng.normal(size=(d, 24)) * 0.2
    q = rng.normal(size=(24, d)) * 0.2
    g = rng.normal(size=(n, d))
    vec = _subset_vec(spark, n)
    gdf = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(n), "vec": list(g)}),
        "i long, vec array<double>",
    )
    gx, gp, gq = attention_mlp_grads(
        vec.select("i", "vec"), gdf, p, q, **_opts(layout, "broadcast_kv")
    )

    # analytic chain: pred = relu(xP)Q; out = softmax(pred pred^T) pred
    h = x @ p
    a = np.maximum(h, 0.0)
    pred = a @ q
    s = pred @ pred.T
    w = np.exp(s - s.max(1, keepdims=True))
    w /= w.sum(1, keepdims=True)
    gv = w.T @ g
    gdot = g @ pred.T
    r = (w * gdot).sum(1, keepdims=True)
    gs = w * (gdot - r)
    gpred = gs @ pred + gs.T @ pred + gv   # gQ + gK + gV (shared input)
    gh = (gpred @ q.T) * (h > 0)
    gx_want = gh @ p.T
    gp_want = x.T @ gh
    gq_want = a.T @ gpred

    _close(_dense(gx), gx_want)
    _close(_coo(gp, p.shape), gp_want)
    _close(_coo(gq, q.shape), gq_want)

    # finite difference through the WHOLE composition wrt X[0,0]
    def loss(x_in):
        pr = np.maximum(x_in @ p, 0.0) @ q
        ss = pr @ pr.T
        ww = np.exp(ss - ss.max(1, keepdims=True))
        ww /= ww.sum(1, keepdims=True)
        return float(((ww @ pr) * g).sum())

    eps = 1e-6
    x1 = x.copy(); x1[0, 0] += eps
    x2 = x.copy(); x2[0, 0] -= eps
    assert abs((loss(x1) - loss(x2)) / (2 * eps) - gx_want[0, 0]) < 1e-4


@layouts
def test_xentropy_bwd(spark, emb_matrix, layout):
    _, xfull, labfull = emb_matrix
    n = 96
    x = xfull[:n]
    lab = labfull[:n]
    vec = _subset_vec(spark, n)
    gpred, gtrg = xentropy_bwd(
        vec.select("i", "vec", "label"), vec.select("i", "vec"),
        **_opts(layout, "broadcast_trg"),
    )
    s = x @ x.T
    w = np.exp(s - s.max(1, keepdims=True))
    w /= w.sum(1, keepdims=True)
    onehot = (lab[:, None] == np.arange(n)[None, :]).astype(float)
    d = w - onehot
    _close(_dense(gpred), d @ x)
    _close(_dense(gtrg), d.T @ x)
