"""Log-space numeric kernels.

The reference's softmax-family monoids all merge in log space
(``logaddexp`` at reference attention.py:34, xentropy.py:42,
entropy.py:21) with the subtract-max trick for stability
(reference attention.py:7-8).  Spark has no logsumexp aggregate, so the
engine expresses it as the classic two-pass aggregation:

    z = max(s) + log(sum(exp(s - max(s))))

Both passes group on the same keys, so Catalyst reuses the shuffle
partitioning — one Exchange total, partial+final hash agg on each pass
(this IS the reference's ``binary_reduce`` merge, run by Spark natively).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def group_logsumexp(
    df: DataFrame,
    keys: Sequence[str],
    score: str = "s",
    out: str = "lse",
) -> DataFrame:
    """Per-group stable logsumexp of ``score`` -> ``(keys..., out)``.

    Equivalent to the reference's global merge of per-tile
    ``(z, ...)`` partials via logaddexp (attention.py:31-36): computing
    the max first and the weighted sum second is the fully-merged form
    of that associative fold.
    """
    keys = list(keys)
    mx = df.groupBy(*keys).agg(F.max(score).alias("_mx"))
    return (
        df.join(mx, keys)
        .groupBy(*keys)
        .agg(
            (F.max("_mx") + F.log(F.sum(F.exp(F.col(score) - F.col("_mx")))))
            .alias(out)
        )
    )


def logaddexp(a: Column, b: Column) -> Column:
    """Stable pairwise logaddexp as a Column expression
    (reference attention.py:34 ``torch.logaddexp``)."""
    mx = F.greatest(a, b)
    return mx + F.log(F.exp(a - mx) + F.exp(b - mx))


def collected_lse(ps: Column, z_field: str) -> Column:
    """Stable logsumexp over an ARRAY of partial structs, fully in-row.

    Companion to :func:`group_logsumexp` for the fused one-shuffle merge:
    ``groupBy(key).agg(collect_list(struct(...)))`` puts every tile
    partial for a row into one small array (one element per tile, e.g.
    7 at sf0.1/4096-blocks), and this expression folds them JVM-side
    with higher-order functions — no second aggregation pass, no join
    back, no re-exchange.  This is the reference's ``binary_reduce``
    (attention.py:31-36) as a Catalyst expression tree.
    """
    mx = F.array_max(F.transform(ps, lambda p: p[z_field]))
    return mx + F.log(
        F.aggregate(ps, F.lit(0.0), lambda acc, p: acc + F.exp(p[z_field] - mx))
    )
