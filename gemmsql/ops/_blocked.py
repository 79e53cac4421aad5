"""The fold executor: one path choice for every tile fold.

Each op declares the reference's contract (core.py:15-64) once: a NumPy
``kernel`` (``proj_fold`` over a tile), a ``merge`` (``binary_reduce``:
one ``groupBy("i")`` returning the partial's own schema) and a
``finish`` (partial rows -> output).  :func:`fold` resolves
``broadcast="auto"`` from the right side's footer row count and runs:

- **broadcast path** — the right side is collected, broadcast, and one
  narrow ``mapInPandas`` scores each left row against ALL of it, so
  every partial is already final: ``finish`` runs on the kernel rows,
  with no merge, shuffle or aggregate.
- **tiled path** — the ``chunker``: a join of block tables on block ids
  makes each (left-block, right-block) pair one ``applyInPandas``
  group (reference attention.py:46-57); ``merge`` folds the per-tile
  partials per row before ``finish``.  Left rows replicate once per
  right block and vice versa, O(|L| * nrb + |R| * nlb) shuffle.

Passes that scatter-add into both sides (the backwards' second sweep)
take :func:`tile_partials` and merge on both paths.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemmsql.numerics import collected_lse

# kernel(left_ids, left_mat, left_extra, right_ids, right_mat) -> pdf
Kernel = Callable[[np.ndarray, np.ndarray, pd.DataFrame, np.ndarray, np.ndarray], pd.DataFrame]
Step = Callable[[DataFrame], DataFrame]

BROADCAST_RIGHT_MAX_ROWS = 262_144  # ~128 MB at 64 dims of float64


def vec_mat(series) -> np.ndarray:
    """A vector column (pandas Series of arrays) as a float64 matrix."""
    return np.asarray(series.tolist(), dtype=np.float64)


def row_logsumexp(s: np.ndarray) -> np.ndarray:
    """Max-shifted per-row logsumexp ``m + log(sum(exp(s - m)))``."""
    m = s.max(axis=1)
    return m + np.log(np.exp(s - m[:, None]).sum(axis=1))


def use_broadcast(
    broadcast: bool | str, frame: DataFrame, max_rows: int = BROADCAST_RIGHT_MAX_ROWS
) -> bool:
    """``"auto"`` -> ``frame`` has at most ``max_rows`` rows (footer
    metadata when the plan allows, else one ``count()`` job)."""
    if broadcast == "auto":
        from gemmsql.stats import rows_for_choice

        return rows_for_choice(frame) <= max_rows
    return bool(broadcast)


def blocked_partials(
    left: DataFrame,
    right: DataFrame,
    kernel: Kernel,
    partial_schema: str,
    *,
    left_block: int = 4096,
    right_block: int = 4096,
    left_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Run ``kernel`` on every (left-block, right-block) tile pair.

    ``left``/``right`` are vector-row DataFrames ``(i, vec[, extras])``.
    Returns the union of per-pair partial accumulator rows (one or more
    rows per left row id per right block), ready for a monoid merge.
    """
    lb = left.withColumn("_lb", F.floor(F.col("i") / left_block).cast("int"))
    rb = right.withColumn("_rb", F.floor(F.col("i") / right_block).cast("int"))

    lids = lb.select("_lb").distinct()
    rids = rb.select("_rb").distinct()

    extra = list(left_extra)
    l_rep = lb.crossJoin(F.broadcast(rids)).select(
        "_lb", "_rb", F.lit(0).alias("_side"), "i", "vec",
        *[F.col(c) for c in extra],
    )
    r_rep = rb.crossJoin(F.broadcast(lids)).select(
        "_lb", "_rb", F.lit(1).alias("_side"), "i", "vec",
        *[F.lit(None).cast(lb.schema[c].dataType).alias(c) for c in extra],
    )
    both = l_rep.unionByName(r_rep)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        lp = pdf[pdf["_side"] == 0]
        rp = pdf[pdf["_side"] == 1]
        if len(lp) == 0 or len(rp) == 0:
            # empty tile: monoid identity contribution -> no rows
            return pd.DataFrame(columns=[f.split()[0] for f in partial_schema.split(",")])
        return kernel(
            lp["i"].to_numpy(),
            vec_mat(lp["vec"]),
            lp[extra].reset_index(drop=True),
            rp["i"].to_numpy(),
            vec_mat(rp["vec"]),
        )

    return both.groupBy("_lb", "_rb").applyInPandas(
        lambda _key, pdf: run(pdf), partial_schema
    )


def broadcast_right_partials(
    left: DataFrame,
    right: DataFrame,
    kernel: Kernel,
    partial_schema: str,
    *,
    left_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Same contract as :func:`blocked_partials` but with the whole right
    side broadcast — replication factor 1, no shuffle (use when the right
    side fits in memory; e.g. a class-embedding table)."""
    spark = left.sparkSession
    rp = right.select("i", "vec").toPandas()
    b = spark.sparkContext.broadcast((rp["i"].to_numpy(), vec_mat(rp["vec"])))
    extra = list(left_extra)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rids, rmat = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield kernel(
                pdf["i"].to_numpy(), vec_mat(pdf["vec"]),
                pdf[extra].reset_index(drop=True), rids, rmat,
            )

    from gemmsql.ops.gate import _spread

    # byte-light/compute-heavy spread (r18): a bounded left scan is
    # often ONE partition, which would serialize the kernel on one core
    return _spread(left.select("i", "vec", *extra)).mapInPandas(
        run, partial_schema
    )


def tile_partials(
    left: DataFrame,
    right: DataFrame,
    kernel: Kernel,
    partial_schema: str,
    *,
    broadcast: bool,
    block: int,
    left_extra: tuple[str, ...] = (),
) -> DataFrame:
    """The executor's partials step (``chunker`` + ``proj_fold``): kernel
    rows from the broadcast map, or from every ``block``-row tile pair."""
    if broadcast:
        return broadcast_right_partials(
            left, right, kernel, partial_schema, left_extra=left_extra
        )
    return blocked_partials(
        left, right, kernel, partial_schema,
        left_block=block, right_block=block, left_extra=left_extra,
    )


def fold(
    left: DataFrame,
    right: DataFrame,
    kernel: Kernel,
    partial_schema: str,
    *,
    merge: Step,
    finish: Step | None = None,
    broadcast: bool | str = "auto",
    block: int = 4096,
    left_extra: tuple[str, ...] = (),
    max_rows: int = BROADCAST_RIGHT_MAX_ROWS,
) -> DataFrame:
    """Run one tile fold: partials, ``merge`` on the tiled path only,
    then ``finish`` (identity when None).  ``"auto"`` sizes ``right``
    against ``max_rows``.  The kernel emits ONE partial per left row
    per call."""
    bcast = use_broadcast(broadcast, right, max_rows)
    parts = tile_partials(
        left, right, kernel, partial_schema,
        broadcast=bcast, block=block, left_extra=left_extra,
    )
    if not bcast:
        parts = merge(parts)
    return parts if finish is None else finish(parts)


def lse_merge(z: str, weighted: str | None = None) -> Step:
    """Merge of log-space partials ``(i, z[, weighted])`` in ONE
    ``groupBy("i")``: ``z = logsumexp_b z_b``, ``weighted = sum_b
    e^{z_b - z} weighted_b`` (reference entropy.py:18-23), folded
    in-row over the collected partials (numerics.collected_lse)."""
    fields = [z] if weighted is None else [z, weighted]

    def merge(parts: DataFrame) -> DataFrame:
        g = parts.groupBy("i").agg(
            F.collect_list(F.struct(*fields)).alias("ps")
        ).withColumn(z, collected_lse(F.col("ps"), z))
        if weighted is None:
            return g.select("i", z)
        w = F.aggregate(
            F.col("ps"), F.lit(0.0),
            lambda acc, p: acc + p[weighted] * F.exp(p[z] - F.col(z)),
        )
        return g.select("i", z, w.alias(weighted))

    return merge
