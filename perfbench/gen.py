"""Seeded input generator for the benchmark.

Everything here is a pure function of ``seed`` and the sizes, so the
same seed always yields byte-identical inputs.  Tables are written as
parquet with pyarrow (not through Spark), so the engine only ever sees
generated files, exactly as it would see real inputs, and its
footer-statistics paths (``gemmsql.stats.frame_rows``) apply.

``o_orderdate`` is written as a parquet DATE: a TIMESTAMP column
written by Spark is INT96 with no footer statistics, and
``tablelog.append_with_stats`` then refuses the append ("no
o_orderdate stats").
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
HIDDEN = 256
#: scale of the embedding entries: dot products of two rows then have a
#: standard deviation near 1, so softmax rows are neither flat nor
#: one-hot.
EMB_STD = DIM ** -0.5 * 1.2

ORDER_STATUS = np.array(["F", "O", "P"])
ORDER_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
DATE0 = dt.date(2020, 1, 1)
#: each appended batch covers its own 7-day window, the shape of
#: time-ordered ingest, so per-file date bounds are tight and a narrow
#: date predicate prunes to one or two files
DAYS_PER_BATCH = 7
#: merge inserts take keys from here up, never colliding with appends
INSERT_KEY_BASE = 1 << 40


def rng_for(seed: int, *tag: int) -> np.random.Generator:
    """Independent stream per (seed, tag...): adding a stream never
    shifts the draws of another."""
    return np.random.default_rng([seed, *tag])


def _vec_table(ids: np.ndarray, mat: np.ndarray, **extra) -> pa.Table:
    vec = pa.FixedSizeListArray.from_arrays(
        pa.array(mat.ravel(), pa.float64()), mat.shape[1]
    ).cast(pa.list_(pa.float64()))
    cols = {"i": pa.array(ids, pa.int64()), "vec": vec}
    cols.update({k: pa.array(v, pa.int64()) for k, v in extra.items()})
    return pa.table(cols)


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def embeddings(seed: int, tag: int, n: int, *, std: float = EMB_STD) -> np.ndarray:
    return rng_for(seed, tag).normal(0.0, std, size=(n, DIM))


def labels(seed: int, n: int, n_classes: int) -> np.ndarray:
    return rng_for(seed, 100).integers(0, n_classes, size=n, dtype=np.int64)


def mlp_weights(seed: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """The ``k``-th (P, Q) weight pair: 64x256 and 256x64, scaled so
    relu(XP)Q keeps the input's magnitude."""
    r = rng_for(seed, 200, k)
    p = r.normal(0.0, (2.0 / DIM) ** 0.5, size=(DIM, HIDDEN))
    q = r.normal(0.0, HIDDEN ** -0.5, size=(HIDDEN, DIM))
    return p, q


class FoldInputs:
    """Dense arrays behind one fold workload's parquet inputs.

    - ``pred`` (M rows, with ``label``) and ``cls`` (N class rows): the
      factored-logit ops (xentropy, row_entropy, sample_categorical).
    - ``seq`` (S rows) and ``grad`` (S rows): self-attention input and
      the cotangent its backward pass takes.
    """

    def __init__(self, seed: int, m: int, n: int, s: int):
        self.pred = embeddings(seed, 1, m)
        self.label = labels(seed, m, n)
        self.cls = embeddings(seed, 2, n)
        self.seq = embeddings(seed, 3, s)
        self.grad = embeddings(seed, 4, s, std=0.1)

    def write(self, out_dir: str) -> dict[str, str]:
        """Write every table under ``out_dir``; returns name -> path."""
        ids = lambda a: np.arange(len(a), dtype=np.int64)  # noqa: E731
        tables = {
            "pred": _vec_table(ids(self.pred), self.pred, label=self.label),
            "cls": _vec_table(ids(self.cls), self.cls),
            "seq": _vec_table(ids(self.seq), self.seq),
            "grad": _vec_table(ids(self.grad), self.grad),
        }
        return {
            k: write_parquet(t, os.path.join(out_dir, f"{k}.parquet"))
            for k, t in tables.items()
        }


# ------------------------------------------------------------ orders


def orders_batch(seed: int, b: int, rows: int) -> pa.Table:
    """Append batch ``b``: keys ``b*rows+1 .. (b+1)*rows`` and dates in
    the batch's own 7-day window."""
    r = rng_for(seed, 300, b)
    keys = np.arange(b * rows + 1, (b + 1) * rows + 1, dtype=np.int64)
    day0 = b * DAYS_PER_BATCH
    days = day0 + r.integers(0, DAYS_PER_BATCH, size=rows)
    return _orders_table(r, keys, days)


def merge_source(
    seed: int, k: int, live_keys: np.ndarray, rows: int, next_insert: int
) -> pa.Table:
    """The ``k``-th MERGE source: half updates of live keys, half
    inserts of fresh keys starting at ``next_insert``."""
    r = rng_for(seed, 400, k)
    n_upd = rows // 2
    upd = np.sort(r.choice(live_keys, size=n_upd, replace=False))
    ins = np.arange(next_insert, next_insert + rows - n_upd, dtype=np.int64)
    keys = np.concatenate([upd, ins])
    days = r.integers(0, DAYS_PER_BATCH * 4, size=len(keys))
    return _orders_table(r, keys, days)


def delete_keys(seed: int, k: int, live_keys: np.ndarray, rows: int) -> pa.Table:
    r = rng_for(seed, 500, k)
    keys = np.sort(r.choice(live_keys, size=rows, replace=False))
    return pa.table({"o_orderkey": pa.array(keys, pa.int64())})


def _orders_table(r: np.random.Generator, keys: np.ndarray, days: np.ndarray) -> pa.Table:
    n = len(keys)
    dates = np.datetime64(DATE0, "D") + days.astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(r.integers(1, 150_000, size=n), pa.int64()),
        "o_orderstatus": pa.array(ORDER_STATUS[r.integers(0, 3, size=n)]),
        # whole cents, so the model's checksum is exact
        "o_totalprice": pa.array(r.integers(100, 50_000_000, size=n) / 100.0),
        "o_orderdate": pa.array(dates, pa.date32()),
        "o_orderpriority": pa.array(ORDER_PRIORITY[r.integers(0, 5, size=n)]),
    })


class TableModel:
    """The generator's own model of the table: one row per live key
    with its price in whole cents and its order date.  The benchmark
    checks every read, and the final snapshot, against it."""

    def __init__(self):
        self.rows = pd.DataFrame({"cents": pd.Series(dtype=np.int64),
                                  "date": pd.Series(dtype="datetime64[s]")})

    @staticmethod
    def _frame(t: pa.Table) -> pd.DataFrame:
        return pd.DataFrame(
            {"cents": np.rint(t.column("o_totalprice").to_numpy() * 100).astype(np.int64),
             "date": t.column("o_orderdate").to_numpy().astype("datetime64[s]")},
            index=pd.Index(t.column("o_orderkey").to_numpy(), name="key"),
        )

    def upsert(self, t: pa.Table) -> None:
        new = self._frame(t)
        self.rows = pd.concat([self.rows.drop(new.index, errors="ignore"), new])

    def delete(self, t: pa.Table) -> None:
        self.rows = self.rows.drop(t.column("o_orderkey").to_numpy())

    def live_keys(self) -> np.ndarray:
        return self.rows.index.to_numpy()

    def summary(self, lo: dt.date | None = None, hi: dt.date | None = None) -> tuple[int, int, int]:
        """(rows, sum of keys, sum of cents), over ``lo <= date <= hi``
        when a window is given."""
        r = self.rows
        if lo is not None:
            d = r["date"]
            r = r[(d >= pd.Timestamp(lo)) & (d <= pd.Timestamp(hi))]
        return len(r), int(r.index.to_numpy().sum()), int(r["cents"].sum())
