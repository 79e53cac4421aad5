"""Matrix multiplication operators.

The reference's MLP monoid (reference mlp.py:6-21) is a sum-monoid over
chained matmuls; its tile loop is a block nested-loop join.  In Spark:

- :func:`coo_matmul` — pure relational matmul: equi-join on the inner
  dimension + groupBy + sum.  Catalyst picks broadcast vs sort-merge;
  partial aggregation gives the map-side combine for free (the
  reference's ``binary_reduce`` sum, mlp.py:18-21).
- :func:`gram` — X^T X via per-partition NumPy partials
  (``mapInPandas``): each Arrow batch contributes a D x D partial that is
  summed per (j1, j2).  Shuffle volume is O(D^2 * partitions), never
  O(rows) — the 100 TB-safe plan for tall-skinny X.
- :func:`vector_matmul` — X @ W for a small broadcast W: one NumPy GEMM
  per Arrow batch, no shuffle at all (narrow transformation).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemmsql.ops._blocked import vec_mat


def coo_matmul(
    a: DataFrame,
    b: DataFrame,
    *,
    broadcast_right: bool | None = None,
    out_names: tuple[str, str, str] = ("i", "j", "v"),
) -> DataFrame:
    """``C[i,k] = sum_j A[i,j] * B[j,k]`` for COO inputs ``(i, j, v)``.

    ``broadcast_right=True`` hints the right side broadcast-able (a small
    weight matrix) so the join never shuffles the big side.
    """
    oi, ok, ov = out_names
    bb = b.select(
        F.col("i").alias("_bj"), F.col("j").alias("_bk"), F.col("v").alias("_bv")
    )
    if broadcast_right:
        bb = F.broadcast(bb)
    return (
        a.join(bb, a["j"] == bb["_bj"])
        .groupBy(a["i"].alias(oi), F.col("_bk").alias(ok))
        .agg(F.sum(F.col("v") * F.col("_bv")).alias(ov))
    )


def relu_matmul(a: DataFrame, b: DataFrame, **kw) -> DataFrame:
    """``relu(A @ B)`` (reference cpp_src/relu_matmul.cpp:9-21):
    elementwise ``greatest(v, 0)`` after the matmul aggregate."""
    out = coo_matmul(a, b, **kw)
    v = kw.get("out_names", ("i", "j", "v"))[2]
    return out.withColumn(v, F.greatest(F.col(v), F.lit(0.0)))


def gram(vec_df: DataFrame, vec_col: str = "vec") -> DataFrame:
    """``G = X^T X`` over vector-row input -> COO ``(j1, j2, v)``.

    Monoid structure (reference core.py contract): zero = D x D zeros,
    lift = add x_r x_r^T for each row, merge = matrix sum.  Executed as
    map-side NumPy partials + a tiny final sum — the shuffle carries only
    D^2 doubles per input partition.
    """

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = vec_mat(pdf[vec_col])
            g = x.T @ x  # fused proj_fold over the whole Arrow batch
            d = g.shape[0]
            j1, j2 = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {"j1": j1.ravel(), "j2": j2.ravel(), "pv": g.ravel()}
            )

    partials = vec_df.select(vec_col).mapInPandas(
        partial, schema="j1 long, j2 long, pv double"
    )
    return partials.groupBy("j1", "j2").agg(F.sum("pv").alias("v"))


def vector_matmul(
    vec_df: DataFrame,
    w: np.ndarray,
    *,
    vec_col: str = "vec",
    id_col: str = "i",
    relu: bool = False,
    out_col: str = "vec",
) -> DataFrame:
    """``X @ W`` with W a small dense ndarray, broadcast to executors.

    One GEMM per Arrow batch; a narrow map — zero shuffle.  This is the
    scale path for applying trained weights (W fits in memory even when
    X is 100 TB)."""
    spark = vec_df.sparkSession
    bw = spark.sparkContext.broadcast(np.ascontiguousarray(w, dtype=np.float64))

    def apply_w(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wm = bw.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = vec_mat(pdf[vec_col])
            y = x @ wm
            if relu:
                np.maximum(y, 0.0, out=y)
            yield pd.DataFrame({id_col: pdf[id_col].values, out_col: list(y)})

    return vec_df.select(id_col, vec_col).mapInPandas(
        apply_w, schema=f"{id_col} long, {out_col} array<double>"
    )
