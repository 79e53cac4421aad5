"""Cross-entropy over factored logits (reference xentropy.py).

``loss[m] = logsumexp_n(pred_m . trg_n) - pred_m . trg_true[m]``
== ``cross_entropy(pred @ trg^T, true)`` (oracle, xentropy.py:79-80).

Monoid (xentropy.py:39-44): accumulator ``(p, n)`` with
``p`` merged by logaddexp and ``n`` (the true-class score, picked when
the true class falls inside a tile, xentropy.py:12) merged by plain sum.

:func:`xentropy` declares that monoid as kernel / merge / finish and
runs it through the fold executor (:func:`gemmsql.ops._blocked.fold`):
the kernel emits per-tile partials ``(i, p_b, n_b)``, the merge runs
only on the tiled path (on the broadcast path each row's partial is
already final), and finish is ``loss = p - n``.  Output: ``(i, loss)``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemmsql.numerics import collected_lse
from gemmsql.ops._blocked import fold, plan_tiles, row_logsumexp


def _xent_kernel(lids, lmat, extra, rids, rmat) -> pd.DataFrame:
    s = lmat @ rmat.T
    p = row_logsumexp(s)  # per-tile logsumexp partial
    # one-hot pick: score of the true class if it lives in this tile
    # (reference xentropy.py:12: true[:,None] == tixs[None,:])
    match = extra["label"].to_numpy()[:, None] == rids[None, :]
    n = (s * match).sum(axis=1)
    return pd.DataFrame({"i": lids, "p": p, "n": n})


def _xent_merge(parts: DataFrame) -> DataFrame:
    # logsumexp folds in-row; the true-class score is a plain sum
    g = parts.groupBy("i").agg(
        F.collect_list(F.struct("p", "n")).alias("ps"),
        F.sum("n").alias("n"),
    )
    return g.select("i", collected_lse(F.col("ps"), "p").alias("p"), "n")


def xentropy(
    pred_vec: DataFrame,
    trg_vec: DataFrame,
    *,
    block: int = 4096,
    broadcast_trg: bool | str = "auto",
) -> DataFrame:
    """Blocked path.  ``pred_vec``: ``(i, vec, label)`` where label is the
    true class id == a ``trg_vec`` row id (reference xentropy.py:75-77
    uses tixs = arange(N)).  Small class-embedding tables broadcast —
    the common real case (vocab embeddings fit in memory even when the
    prediction side is enormous)."""
    return fold(
        pred_vec, trg_vec, _xent_kernel, "i long, p double, n double",
        merge=_xent_merge,
        finish=lambda r: r.select("i", (F.col("p") - F.col("n")).alias("loss")),
        grid=plan_tiles(broadcast_trg, pred_vec, trg_vec, block),
        left_extra=("label",),
    )
