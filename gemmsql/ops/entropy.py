"""Shannon entropy of ``softmax(pred @ trg^T)`` rows (reference entropy.py).

``H[m] = z_m - sum_n softmax(s)_mn * s_mn`` where ``z = logsumexp``
(oracle: -sum p log p, entropy.py:56-58).

Monoid (entropy.py:18-23): ``(p, n)`` with p merged by logaddexp and n —
an *unnormalized softmax-weighted score sum* ``sum(exp(s - p_b) * s)`` —
merged by the weighted-average rule ``n = n_a e^{p_a - p} + n_b e^{p_b - p}``.
That merge is order-independent, so in SQL it collapses to one global
two-pass aggregate: the fold executor's ``lse_merge``, which
:func:`row_entropy` runs on the tiled path only (``_blocked.fold``);
finish is ``H = p - n``.  Backward is NOT implemented in the reference
(entropy.py:14-16) and intentionally not here either.  Output ``(i, entropy)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemmsql.ops._blocked import fold, lse_merge, plan_tiles, row_logsumexp


def _entropy_kernel(lids, lmat, _extra, rids, rmat) -> pd.DataFrame:
    s = lmat @ rmat.T
    p = row_logsumexp(s)
    n = (np.exp(s - p[:, None]) * s).sum(axis=1)  # reference entropy.py:11
    return pd.DataFrame({"i": lids, "p": p, "n": n})


def row_entropy(
    pred_vec: DataFrame,
    trg_vec: DataFrame,
    *,
    block: int = 4096,
    broadcast_trg: bool | str = "auto",
) -> DataFrame:
    """Blocked path -> ``(i, entropy)``.  Small trg sides broadcast
    (narrow map, replication 1) exactly like attention's KV rule."""
    return fold(
        pred_vec, trg_vec, _entropy_kernel, "i long, p double, n double",
        merge=lse_merge("p", "n"),
        finish=lambda r: r.select("i", (F.col("p") - F.col("n")).alias("entropy")),
        grid=plan_tiles(broadcast_trg, pred_vec, trg_vec, block),
    )
