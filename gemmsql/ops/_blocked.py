"""The fold executor: one path choice for every tile fold.

Each op declares the reference's contract (core.py:15-64) once: a NumPy
``kernel`` (``proj_fold`` over a tile), a ``merge`` (``binary_reduce``:
one ``groupBy("i")`` returning the partial's own schema) and a
``finish`` (partial rows -> output).  :func:`plan_tiles` resolves the
call's layout on the driver (``broadcast="auto"`` sizes the right side
in bytes from its footers) and :func:`fold` runs it:

- **broadcast path** — the right side is read on the driver (straight
  from its parquet file with pyarrow when it is a pure projection of a
  scan, else one collect), broadcast, and one narrow ``mapInPandas``
  scores each left row against ALL of it, so every partial is already
  final: ``finish`` runs on the kernel rows, with no merge, shuffle or
  aggregate.
- **tiled path** — the ``chunker``: a :class:`Grid` lists each side's
  block ids ``floor(i / block)``, from the footer min/max of the
  parquet column ``i`` traces to (one collect of the occupied ids when
  footers cannot bound ``i`` or the ids are sparse).  Each side
  replicates with a narrow ``explode`` of the other side's list, so
  every (left-block, right-block) pair is one ``applyInPandas`` group
  (reference attention.py:46-57); ``merge`` folds the per-tile
  partials per row before ``finish``.  Left rows replicate once per
  right block and vice versa, O(|L| * nrb + |R| * nlb) shuffle.

Passes that scatter-add into both sides (the backwards' gradient
sweep) take :func:`tile_partials` and merge on both paths.  A call with
several sweeps resolves its grid once and hands it to each.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemmsql.datamodel import block_id
from gemmsql.numerics import collected_lse
from gemmsql.stats import (
    frame_bytes, frame_col_bounds, frame_rows, frame_table, rows_for_choice,
)

# kernel(left_ids, left_mat, left_extra, right_ids, right_mat) -> pdf
Kernel = Callable[[np.ndarray, np.ndarray, pd.DataFrame, np.ndarray, np.ndarray], pd.DataFrame]
Step = Callable[[DataFrame], DataFrame]

#: driver bytes a broadcast right side may take: 262,144 rows at 64
#: float64 dims (128 MiB)
BROADCAST_RIGHT_MAX_BYTES = 262_144 * 64 * 8

#: parquet columns a broadcast right side is read from without Spark
_VECTORS = pa.schema([("i", pa.int64()), ("vec", pa.list_(pa.float64()))])


def vec_mat(series) -> np.ndarray:
    """A vector column (pandas Series of arrays) as a float64 matrix."""
    return np.asarray(series.tolist(), dtype=np.float64)


def row_logsumexp(s: np.ndarray) -> np.ndarray:
    """Max-shifted per-row logsumexp ``m + log(sum(exp(s - m)))``."""
    m = s.max(axis=1)
    return m + np.log(np.exp(s - m[:, None]).sum(axis=1))


def use_broadcast(
    broadcast: bool | str, frame: DataFrame, max_rows: int | None = None
) -> bool:
    """``"auto"`` -> ``frame`` fits the broadcast bound: at most
    ``max_rows`` rows when given, else its ``vec`` column at most
    :data:`BROADCAST_RIGHT_MAX_BYTES` (footer metadata when the plan
    allows, else one aggregate job)."""
    if broadcast != "auto":
        return bool(broadcast)
    if max_rows is not None:
        return rows_for_choice(frame) <= max_rows
    return frame_bytes(frame) <= BROADCAST_RIGHT_MAX_BYTES


@dataclass(frozen=True)
class Grid:
    """A tiled call's layout: the block size and each side's block ids
    ``floor(i / block)``.  Every occupied id is listed; a footer range
    may add empty ones, whose tiles emit nothing."""

    block: int
    left: tuple[int, ...]
    right: tuple[int, ...]


def block_ids(frame: DataFrame, block: int) -> tuple[int, ...]:
    """``frame``'s block ids: the footer range of ``i`` (no job), unless
    footers cannot bound ``i`` or the range holds more blocks than
    ``frame`` has rows (sparse ids); then one collect of the occupied
    ids."""
    bounds = frame_col_bounds(frame, "i")
    if bounds is not None:
        # float division, as Spark computes floor(i / block)
        lo, hi = (math.floor(float(v) / block) for v in bounds)
        n = frame_rows(frame)
        if n is not None and hi - lo < n:
            return tuple(range(lo, hi + 1))
    rows = frame.select(block_id("i", block).alias("b")).dropna().distinct().collect()
    return tuple(sorted(r["b"] for r in rows))


def block_grid(left: DataFrame, right: DataFrame, block: int) -> Grid:
    """The tiled grid of ``left`` x ``right`` at ``block`` rows."""
    lids = block_ids(left, block)
    return Grid(block, lids, lids if right is left else block_ids(right, block))


def plan_tiles(
    broadcast: bool | str,
    left: DataFrame,
    right: DataFrame,
    block: int,
    max_rows: int | None = None,
) -> Grid | None:
    """Resolve a fold call's layout on the driver: None for the
    broadcast path (:func:`use_broadcast`), else the tiled grid."""
    if use_broadcast(broadcast, right, max_rows):
        return None
    return block_grid(left, right, block)


def blocked_partials(
    left: DataFrame,
    right: DataFrame,
    kernel: Kernel,
    partial_schema: str,
    *,
    grid: Grid,
    left_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Run ``kernel`` on every (left-block, right-block) tile pair of
    ``grid``.

    ``left``/``right`` are vector-row DataFrames ``(i, vec[, extras])``
    whose block ids ``grid`` lists.  Returns the union of per-pair
    partial accumulator rows (one or more rows per left row id per
    right block), ready for a monoid merge.
    """

    def others(ids: tuple[int, ...]):
        return F.explode(F.array(*map(F.lit, ids)).cast("array<long>"))

    bid = block_id("i", grid.block)
    extra = list(left_extra)
    l_rep = left.select(
        bid.alias("_lb"), others(grid.right).alias("_rb"),
        F.lit(0).alias("_side"), "i", "vec", *extra,
    )
    r_rep = right.select(
        others(grid.left).alias("_lb"), bid.alias("_rb"),
        F.lit(1).alias("_side"), "i", "vec",
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in extra],
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


def _right_arrays(right: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, (n, dim) float64 matrix)`` of a broadcast right side.  A
    pure projection of a parquet scan whose ``i`` is int64 and ``vec``
    list<double> (no nulls, one length) is read on the driver with
    pyarrow and flattened into the matrix: no Spark job, no Python
    lists.  Any other frame is collected with one ``toPandas`` job."""
    right = right.select("i", "vec")
    t = None
    if right.schema.simpleString() == "struct<i:bigint,vec:array<double>>":
        t = frame_table(right, _VECTORS)
    if t is not None and t.num_rows:
        ids, vec = (c.combine_chunks() for c in t.columns)
        flat = vec.flatten()
        dim = pc.max(pc.list_value_length(vec)).as_py()
        if (not (ids.null_count or vec.null_count or flat.null_count)
                and len(flat) == len(vec) * dim):
            return ids.to_numpy(), flat.to_numpy().reshape(len(vec), dim)
    rp = right.toPandas()
    return rp["i"].to_numpy(), vec_mat(rp["vec"])


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
    b = spark.sparkContext.broadcast(_right_arrays(right))
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
    grid: Grid | None,
    left_extra: tuple[str, ...] = (),
) -> DataFrame:
    """The executor's partials step (``chunker`` + ``proj_fold``): kernel
    rows from the broadcast map (``grid`` None), or from every tile
    pair of ``grid``."""
    if grid is None:
        return broadcast_right_partials(
            left, right, kernel, partial_schema, left_extra=left_extra
        )
    return blocked_partials(
        left, right, kernel, partial_schema, grid=grid, left_extra=left_extra
    )


def fold(
    left: DataFrame,
    right: DataFrame,
    kernel: Kernel,
    partial_schema: str,
    *,
    merge: Step,
    finish: Step | None = None,
    grid: Grid | None,
    left_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Run one tile fold on the layout :func:`plan_tiles` resolved:
    partials, ``merge`` on the tiled path only, then ``finish``
    (identity when None).  The kernel emits ONE partial per left row
    per call."""
    parts = tile_partials(
        left, right, kernel, partial_schema, grid=grid, left_extra=left_extra
    )
    if grid is not None:
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
