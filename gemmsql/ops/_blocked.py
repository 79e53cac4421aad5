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

A fold kernel emits one partial per left row, so :func:`fold` calls it
on slices of each batch whose score matrix fits a core's L2 cache
(:data:`FOLD_SLICE_BYTES`); the output is the whole-batch output.

Passes that scatter-add into both sides (the backwards' gradient
sweep) take :func:`tile_partials` and merge on both paths.  A gradient
kernel that needs per-left-row statistics over every right block (a
backward's forward ``z``) on a grid with several right blocks takes
:func:`two_sweep_partials`: both sweeps group one :func:`tile_frame`,
whose exchange runs once.  Pass 1 emits the statistics per left row and
source right block; they are exploded to every right block of their
left block and cogrouped with the same tiles, and each pass-2 group
folds them in NumPy before the gradient kernel runs.
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

#: driver bytes a broadcast right side may take at most: 262,144 rows
#: at 64 float64 dims (128 MiB); a driver heap under 1 GiB lowers it
#: (:func:`broadcast_max_bytes`)
BROADCAST_RIGHT_MAX_BYTES = 262_144 * 64 * 8

#: bytes of the score slice a :func:`fold` kernel call may build: its
#: left rows x right rows x 8 B stay within a core's L2 cache
FOLD_SLICE_BYTES = 1 << 20

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
    :func:`broadcast_max_bytes` of the driver heap (footer metadata when
    the plan allows, else one aggregate job)."""
    if broadcast != "auto":
        return bool(broadcast)
    if max_rows is not None:
        return rows_for_choice(frame) <= max_rows
    heap_mb = driver_heap_mb(frame.sparkSession)
    return frame_bytes(frame) <= broadcast_max_bytes(heap_mb)


def broadcast_max_bytes(heap_mb: int) -> int:
    """The broadcast byte bound under a driver heap of ``heap_mb`` MiB:
    an eighth of the heap, which the collected side crosses more than
    once (collect, then the broadcast's blocks), capped at
    :data:`BROADCAST_RIGHT_MAX_BYTES`.  512 MiB -> 64 MiB; 1 GiB and up
    -> 128 MiB."""
    return min(BROADCAST_RIGHT_MAX_BYTES, (heap_mb << 20) // 8)


def driver_heap_mb(spark) -> int:
    """The session's ``spark.driver.memory`` in MiB, parsed by the JVM's
    byte-string parser (a bare number is MiB; unset is Spark's 1g)."""
    text = spark.conf.get("spark.driver.memory", "1g")
    jvm = spark.sparkContext._jvm
    return int(jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb(text))


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


def _others(ids: tuple[int, ...]):
    """One row per id of ``ids``: the narrow replication of one side
    over the other side's block ids."""
    return F.explode(F.array(*map(F.lit, ids)).cast("array<long>"))


def tile_frame(
    left: DataFrame,
    right: DataFrame,
    *,
    grid: Grid,
    left_extra: tuple[str, ...] = (),
) -> DataFrame:
    """The replicated tile frame of ``grid``, keyed ``(_lb, _rb)``: the
    left rows exploded over ``grid.right`` and the right rows over
    ``grid.left``, tagged ``_side`` 0 / 1.  Every sweep of a call groups
    this one frame, so its exchange is planned once and reused."""
    bid = block_id("i", grid.block)
    extra = list(left_extra)
    l_rep = left.select(
        bid.alias("_lb"), _others(grid.right).alias("_rb"),
        F.lit(0).alias("_side"), "i", "vec", *extra,
    )
    r_rep = right.select(
        _others(grid.left).alias("_lb"), bid.alias("_rb"),
        F.lit(1).alias("_side"), "i", "vec",
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in extra],
    )
    return l_rep.unionByName(r_rep)


def _tile_args(pdf: pd.DataFrame, extra: list[str]):
    """A tile group's kernel arguments ``(left_ids, left_mat,
    left_extra, right_ids, right_mat)``, or None for an empty tile (the
    monoid identity: it emits no rows)."""
    lp = pdf[pdf["_side"] == 0]
    rp = pdf[pdf["_side"] == 1]
    if len(lp) == 0 or len(rp) == 0:
        return None
    return (
        lp["i"].to_numpy(), vec_mat(lp["vec"]),
        lp[extra].reset_index(drop=True),
        rp["i"].to_numpy(), vec_mat(rp["vec"]),
    )


def _empty(schema: str) -> pd.DataFrame:
    return pd.DataFrame(columns=[f.split()[0] for f in schema.split(",")])


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
    extra = list(left_extra)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        args = _tile_args(pdf, extra)
        return _empty(partial_schema) if args is None else kernel(*args)

    tiles = tile_frame(left, right, grid=grid, left_extra=left_extra)
    return tiles.groupBy("_lb", "_rb").applyInPandas(
        lambda _key, pdf: run(pdf), partial_schema
    )


def _fold_lse_stats(
    ids: np.ndarray, src: np.ndarray, stats: dict[str, np.ndarray],
    z: str, weighted: tuple[str, ...] = (),
) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    """Per-right-block log-space partials folded per row in NumPy, the
    in-group twin of :func:`lse_merge`: rows sorted by ``(ids, src)``,
    ``z = logsumexp_b z_b`` and each ``weighted = sum_b e^{z_b - z}
    weighted_b``, summed in source-block order.  Returns the distinct
    ids and the folded columns aligned with them."""
    order = np.lexsort((src, ids))
    ids = ids[order]
    starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
    counts = np.diff(np.r_[starts, len(ids)])
    zb = stats[z][order]
    m = np.maximum.reduceat(zb, starts)
    zt = m + np.log(np.add.reduceat(np.exp(zb - np.repeat(m, counts)), starts))
    scale = np.exp(zb - np.repeat(zt, counts))
    out = {z: zt}
    for w in weighted:
        out[w] = np.add.reduceat(scale * stats[w][order], starts)
    return ids[starts], out


def two_sweep_partials(
    left: DataFrame,
    right: DataFrame,
    stats_kernel: Kernel,
    stats: tuple[str, ...],
    kernel: Kernel,
    partial_schema: str,
    *,
    grid: Grid,
    left_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Two sweeps of one :func:`tile_frame`, for a ``kernel`` that needs
    per-left-row statistics over ALL right blocks (a backward's forward
    ``z``, and attention's ``r``).

    Pass 1 runs ``stats_kernel`` (``(i, *stats)``, one row per left row:
    ``stats[0]`` a logsumexp, the rest weighted by it, as
    :func:`lse_merge`) on every tile and tags each row with its source
    right block.  Those few doubles per row per right block are exploded
    to every right block of their left block and cogrouped with the same
    tile frame, so the tile exchange runs once and pass 2 reads it again
    (``ReusedExchange``); no merge, join or second replication.  Each
    pass-2 group folds its rows' partials (:func:`_fold_lse_stats`),
    hands them to ``kernel`` as extra left columns, and returns its
    partial rows."""
    z, *weighted = stats
    extra = list(left_extra)
    tiles = tile_frame(left, right, grid=grid, left_extra=left_extra)
    # the stats side's own column names: a cogroup of two plans over
    # one frame must not share attributes (see attention_batched)
    stats_schema = "_slb long, _src long, _si long, " + ", ".join(
        f"{c} double" for c in stats
    )

    def pass1(key, pdf):
        args = _tile_args(pdf, extra)
        if args is None:
            return _empty(stats_schema)
        out = stats_kernel(*args)
        return pd.DataFrame({
            "_slb": key[0], "_src": key[1], "_si": out["i"].to_numpy(),
            **{c: out[c].to_numpy() for c in stats},
        })

    parts = tiles.groupBy("_lb", "_rb").applyInPandas(pass1, stats_schema)
    spread = parts.select("*", _others(grid.right).alias("_srb"))

    def pass2(tile, st):
        args = _tile_args(tile, extra)
        if args is None:
            return _empty(partial_schema)
        lids, lmat, lextra, rids, rmat = args
        ids, folded = _fold_lse_stats(
            st["_si"].to_numpy(), st["_src"].to_numpy(),
            {c: st[c].to_numpy() for c in stats}, z, tuple(weighted),
        )
        at = np.searchsorted(ids, lids)
        for c, col in folded.items():
            lextra[c] = col[at]
        return kernel(lids, lmat, lextra, rids, rmat)

    return tiles.groupBy("_lb", "_rb").cogroup(
        spread.groupBy("_slb", "_srb")
    ).applyInPandas(pass2, partial_schema)


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
    per call, and runs on cache-sized slices of its left rows
    (:func:`_sliced`)."""
    parts = tile_partials(
        left, right, _sliced(kernel), partial_schema,
        grid=grid, left_extra=left_extra,
    )
    if grid is not None:
        parts = merge(parts)
    return parts if finish is None else finish(parts)


def _sliced(kernel: Kernel) -> Kernel:
    """``kernel`` run on slices of its left rows whose score slice fits
    :data:`FOLD_SLICE_BYTES`, concatenated.  Only for a kernel whose rows
    each depend on one left row (a :func:`fold` kernel): the output is
    the whole-batch output bit for bit wherever a GEMM's row does not
    depend on the rows it shares the call with, as on a Spark worker's
    one BLAS thread."""

    def run(lids, lmat, extra, rids, rmat) -> pd.DataFrame:
        step = max(1, FOLD_SLICE_BYTES // (8 * max(1, len(rids))))
        if len(lids) <= step:
            return kernel(lids, lmat, extra, rids, rmat)
        return pd.concat(
            [kernel(lids[a:a + step], lmat[a:a + step],
                    extra.iloc[a:a + step].reset_index(drop=True), rids, rmat)
             for a in range(0, len(lids), step)],
            ignore_index=True,
        )

    return run


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
