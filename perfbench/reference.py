"""Dense NumPy float64 references for every fold the benchmark calls.

Each reference materializes the score matrix the engine never does, in
row chunks so the driver's memory stays bounded.  Outputs are indexed
by row id (row ``r`` of the result belongs to input row id ``r``).
"""

from __future__ import annotations

import numpy as np

CHUNK = 2048
MIX_P = 2_147_483_647  # the sampler's documented noise modulus, 2^31 - 1


def _lse(s: np.ndarray) -> np.ndarray:
    m = s.max(axis=1)
    return m + np.log(np.exp(s - m[:, None]).sum(axis=1))


def _chunks(n: int):
    for lo in range(0, n, CHUNK):
        yield slice(lo, min(n, lo + CHUNK))


def xentropy(pred, label, cls) -> np.ndarray:
    out = np.empty(len(pred))
    for sl in _chunks(len(pred)):
        s = pred[sl] @ cls.T
        out[sl] = _lse(s) - s[np.arange(len(s)), label[sl]]
    return out


def row_entropy(pred, cls) -> np.ndarray:
    out = np.empty(len(pred))
    for sl in _chunks(len(pred)):
        s = pred[sl] @ cls.T
        z = _lse(s)
        out[sl] = z - (np.exp(s - z[:, None]) * s).sum(axis=1)
    return out


def gumbel(seed: int, rows: np.ndarray, classes: np.ndarray) -> np.ndarray:
    """The sampler's counter-based noise, as its module documents it:
    two quadratic-mix rounds of (seed, row, class) mod 2^31 - 1."""
    x = (rows[:, None] * 2_654_435_761 + classes[None, :] * 40_503 + seed) % MIX_P
    y = (x * x + 1_103_515_245 * x + 12_345) % MIX_P
    z = (y * y + 69_069 * y + 362_437) % MIX_P
    return -np.log(-np.log((z + 0.5) / MIX_P))


def sample_categorical(pred, cls, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """-> (prob of the chosen class, chosen class id) per row."""
    prob = np.empty(len(pred))
    choice = np.empty(len(pred), np.int64)
    cids = np.arange(len(cls), dtype=np.int64)
    for sl in _chunks(len(pred)):
        s = pred[sl] @ cls.T
        rows = np.arange(sl.start, sl.stop, dtype=np.int64)
        c = (s + gumbel(seed, rows, cids)).argmax(axis=1)
        choice[sl] = c
        prob[sl] = np.exp(s[np.arange(len(s)), c] - _lse(s))
    return prob, choice


def attention(x) -> np.ndarray:
    """Unscaled self-attention softmax(X X^T) X."""
    out = np.empty_like(x)
    for sl in _chunks(len(x)):
        s = x[sl] @ x.T
        w = np.exp(s - _lse(s)[:, None])
        out[sl] = w @ x
    return out


def mlp(x, p, q) -> np.ndarray:
    return np.maximum(x @ p, 0.0) @ q


def attention_bwd(x, g) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Gradients of softmax(Q K^T) V at Q = K = V = X, cotangent G,
    with respect to Q, K and V separately."""
    gq = np.empty_like(x)
    gk = np.zeros_like(x)
    gv = np.zeros_like(x)
    for sl in _chunks(len(x)):
        s = x[sl] @ x.T
        w = np.exp(s - _lse(s)[:, None])
        dw = g[sl] @ x.T
        ds = w * (dw - (w * dw).sum(axis=1)[:, None])
        gq[sl] = ds @ x
        gk += ds.T @ x[sl]
        gv += w.T @ g[sl]
    return gq, gk, gv


def xentropy_bwd(pred, label, cls) -> tuple[np.ndarray, np.ndarray]:
    """Gradients of sum(loss) with respect to pred and the class rows."""
    gpred = np.empty_like(pred)
    gcls = np.zeros_like(cls)
    for sl in _chunks(len(pred)):
        s = pred[sl] @ cls.T
        w = np.exp(s - _lse(s)[:, None])
        w[np.arange(len(s)), label[sl]] -= 1.0
        gpred[sl] = w @ cls
        gcls += w.T @ pred[sl]
    return gpred, gcls


def xentropy_mlp_grads(x, label, cls, p, q):
    """Gradients of sum(xentropy(relu(X P) Q, cls)) -> (gX, gP, gQ, gcls)."""
    h = x @ p
    a = np.maximum(h, 0.0)
    gpred, gcls = xentropy_bwd(a @ q, label, cls)
    gh = (gpred @ q.T) * (h > 0)
    return gh @ p.T, x.T @ gh, a.T @ gpred, gcls
