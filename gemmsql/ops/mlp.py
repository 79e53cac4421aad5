"""Two-layer ReLU MLP: ``relu(X @ P) @ Q`` (reference mlp.py:59-60).

The reference chunks over batch and the hidden dim with a plain
sum-monoid merge (mlp.py:18-21) — in Spark that merge is literally the
built-in ``sum`` (Catalyst partial+final agg).  Strategies:

- :func:`mlp_coo` — fully relational: matmul join/agg, ``greatest(h,0)``
  (the ReLU, reference mlp.py:6), second matmul join/agg.
- :func:`mlp` — weights as small broadcast ndarrays, one fused NumPy
  GEMM-ReLU-GEMM per Arrow batch (reference's "fused projection and
  fold", README.md:36-37); zero shuffle, the 100 TB path when X is huge
  and P/Q are model weights.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemmsql.ops._blocked import vec_mat
from gemmsql.ops.matmul import coo_matmul, vector_matmul


def mlp_coo(x: DataFrame, p: DataFrame, q: DataFrame) -> DataFrame:
    """COO inputs -> COO output ``(i, j, v)`` = relu(X P) Q."""
    h = coo_matmul(x, p, broadcast_right=True)
    h = h.withColumn("v", F.greatest(F.col("v"), F.lit(0.0)))
    return coo_matmul(h, q, broadcast_right=True)


def mlp(
    x_vec: DataFrame,
    p: np.ndarray,
    q: np.ndarray,
    *,
    id_col: str = "i",
    vec_col: str = "vec",
    keep: dict[str, str] | None = None,
) -> DataFrame:
    """Vector-row input, ndarray weights -> ``(i, vec)`` rows of relu(XP)Q.

    ``keep`` maps extra input columns to their DDL types; they pass
    through the map unchanged (e.g. ``{"label": "long"}`` so a chained
    loss op downstream needs no re-join against the inputs)."""
    spark = x_vec.sparkSession
    import pandas as pd
    bp = spark.sparkContext.broadcast(
        (np.asarray(p, dtype=np.float64), np.asarray(q, dtype=np.float64))
    )
    keep = keep or {}

    def run(batches):
        wp, wq = bp.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xm = vec_mat(pdf[vec_col])
            h = np.maximum(xm @ wp, 0.0)
            y = h @ wq
            out = {id_col: pdf[id_col].values, vec_col: list(y)}
            for k in keep:
                out[k] = pdf[k].values
            yield pd.DataFrame(out)

    keep_ddl = "".join(f", {k} {t}" for k, t in keep.items())
    return x_vec.select(id_col, vec_col, *keep).mapInPandas(
        run, schema=f"{id_col} long, {vec_col} array<double>{keep_ddl}"
    )
