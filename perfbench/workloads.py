"""The benchmark's two workloads.

Each workload is a closed loop: one caller, the next public call only
after the previous call's action has completed.  A workload yields its
calls in fixed cycles and the timed window always ends on a cycle
boundary, so every run folds the same mix of calls.

- ``fold``: forward folds whose right side fits the broadcast path
  (kernel CPU, Arrow transfer and the driver-side collect and broadcast
  do the work, shuffle is small), then backward folds forced onto the
  tiled path (tile replication, shuffle and the recompute-based second
  job do the work).
- ``table_rw``: writes beside reads on one table-log table, whose log
  and live-file count grow over the run.  It never touches
  ``gemmsql.ops``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen, reference

#: relative tolerance of every float comparison against the dense
#: float64 references: fold order differs from NumPy's, so results may
#: differ by a few ulps per merged term, far below this
RTOL = 1e-9


class Call:
    """One public call.  ``plan()`` is the call itself and returns its
    lazy output; ``act(out)`` runs the action and returns what it
    brought to the driver; ``check(result)`` decides, after the window,
    whether the result was right."""

    def __init__(self, name, plan, act, check, rows, cells):
        self.name = name
        self.plan = plan
        self.act = act
        self.check = check
        self.rows = rows
        self.cells = cells


def _close(got, want) -> bool:
    got, want = np.asarray(got, np.float64), np.asarray(want, np.float64)
    if got.shape != want.shape:
        return False
    return bool(np.allclose(got, want, rtol=RTOL, atol=RTOL * (np.abs(want).max() + 1.0)))


# ------------------------------------------------------------ actions
#
# A fold call's action collects every output row to the driver as one
# pandas frame, the way a caller consumes a result; the check, outside
# the window, sorts it and compares every value with the reference.


def _agg(df, *cols):
    return tuple(df.agg(F.count(F.lit(1)), *cols).collect()[0])


def _union(parts):
    """One plan over several outputs, so the action runs their shared
    subplans once (Spark reuses identical exchanges within a plan)."""
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def _vec_rows(pdf) -> np.ndarray:
    return np.asarray(pdf["vec"].tolist(), dtype=np.float64).reshape(len(pdf), -1)


def _collect_all(outs, kinds):
    """Every row of several outputs in one action.  A COO entry
    ``(i, j, v)`` travels as ``i`` and ``vec = [j, v]``."""
    return _union([
        o.select(F.lit(k).alias("k"), "i",
                 "vec" if kind == "vec" else F.array(F.col("j").cast("double"), "v").alias("vec"))
        for k, (o, kind) in enumerate(zip(outs, kinds))
    ]).toPandas()


def _dense_all(pdf, kinds) -> list[np.ndarray]:
    """:func:`_collect_all`'s frame as one dense array per output."""
    pdf = pdf.sort_values(["k", "i"])
    dense = []
    for k, kind in enumerate(kinds):
        part = _vec_rows(pdf[pdf["k"] == k])
        if kind == "vec":
            dense.append(part)
        else:
            m = np.zeros(kind)
            m[pdf.loc[pdf["k"] == k, "i"].to_numpy(), part[:, 0].astype(np.int64)] = part[:, 1]
            dense.append(m)
    return dense


def _to_pandas(out):
    return out.toPandas()


class FoldWorkload:
    """One set of fold inputs and the call kinds made on it.
    Subclasses list the call kinds of one cycle."""

    kinds: tuple[str, ...] = ()
    traced_only: tuple[str, ...] = ()

    def __init__(self, seed: int, m: int, n: int, s: int, block: int | None):
        self.seed = seed
        self.m, self.n, self.s, self.block = m, n, s, block
        self.sample_seed = seed % 10_007 + 1
        self.inp = gen.FoldInputs(seed, m, n, s)
        self._ref: dict[str, object] = {}
        self.spark = None
        self.paths: dict[str, str] = {}
        self.weights_used = 0

    # -- inputs

    def prepare(self, spark, in_dir: str) -> None:
        self.spark = spark
        self.paths = self.inp.write(in_dir)

    def _rd(self, name: str):
        return self.spark.read.parquet(self.paths[name])

    # -- references (computed lazily, outside any timed window)

    def ref(self, key: str):
        if key not in self._ref:
            self._ref[key] = self._compute_ref(key)
        return self._ref[key]

    def _compute_ref(self, key: str):
        i = self.inp
        if key == "xentropy":
            return reference.xentropy(i.pred, i.label, i.cls)
        if key == "row_entropy":
            return reference.row_entropy(i.pred, i.cls)
        if key == "sample_categorical":
            return reference.sample_categorical(i.pred, i.cls, self.sample_seed)
        if key == "attention_blocked":
            return reference.attention(i.seq)
        if key == "attention_bwd":
            return reference.attention_bwd(i.seq, i.grad)
        if key == "xentropy_bwd":
            return reference.xentropy_bwd(i.pred, i.label, i.cls)
        if key.startswith("mlp#"):
            p, q = gen.mlp_weights(self.seed, int(key[4:]))
            return reference.mlp(i.pred, p, q)
        if key.startswith("chain#"):
            p, q = gen.mlp_weights(self.seed, int(key[6:]))
            return reference.xentropy_mlp_grads(i.pred, i.label, i.cls, p, q)
        raise KeyError(key)

    # -- calls

    def cycle(self):
        for kind in self.kinds:
            yield self.call(kind)

    def traced_calls(self):
        for kind in self.traced_only:
            yield self.call(kind)

    def call(self, kind: str) -> Call:
        return getattr(self, f"_{kind}")()

    def _weights(self) -> tuple[int, np.ndarray, np.ndarray]:
        # fresh weights per call, as in training: a repeated plan would
        # be served from the engine's query-scoped cache
        k = self.weights_used
        self.weights_used += 1
        return (k, *gen.mlp_weights(self.seed, k))

    def _per_row(self, name, fn, col_name, ref_key):
        """A factored-logit op with one value per pred row."""
        check = lambda pdf: _close(pdf.sort_values("i")[col_name].to_numpy(), self.ref(ref_key))
        return Call(name, fn, _to_pandas, check, self.m + self.n, self.m * self.n)

    def _opts(self, arg: str) -> dict:
        return {} if self.block is None else {"block": self.block, arg: False}

    def _xentropy(self):
        from gemmsql import ops
        fn = lambda: ops.xentropy(self._rd("pred"), self._rd("cls"), **self._opts("broadcast_trg"))
        return self._per_row("ops.xentropy", fn, "loss", "xentropy")

    def _row_entropy(self):
        from gemmsql import ops
        fn = lambda: ops.row_entropy(self._rd("pred"), self._rd("cls"), **self._opts("broadcast_trg"))
        return self._per_row("ops.row_entropy", fn, "entropy", "row_entropy")

    def _sample_categorical(self):
        from gemmsql import ops
        fn = lambda: ops.sample_categorical(self._rd("pred"), self._rd("cls"), seed=self.sample_seed)

        def check(pdf):
            pdf = pdf.sort_values("i")
            prob, choice = self.ref("sample_categorical")
            return _close(pdf["prob"].to_numpy(), prob) and np.array_equal(pdf["choice"].to_numpy(), choice)
        return Call("ops.sample_categorical", fn, _to_pandas, check, self.m + self.n, self.m * self.n)

    def _attention_blocked(self):
        from gemmsql import ops
        fn = lambda: ops.attention_blocked(self._rd("seq"), self._rd("seq"), **self._opts("broadcast_kv"))
        s = self.s
        check = lambda pdf: _close(pdf.sort_values(["i", "d"])["val"].to_numpy().reshape(s, -1),
                                   self.ref("attention_blocked"))
        return Call("ops.attention_blocked", fn, _to_pandas, check, 2 * s, s * s)

    def _mlp(self):
        from gemmsql import ops
        k, p, q = self._weights()
        fn = lambda: ops.mlp(self._rd("pred"), p, q)
        check = lambda pdf: _close(_vec_rows(pdf.sort_values("i")), self.ref(f"mlp#{k}"))
        return Call("ops.mlp", fn, _to_pandas, check, self.m, self.m * gen.HIDDEN)

    def _multi(self, name, fn, kinds, want, rows, cells):
        """A call with several outputs; ``kinds`` says per output "vec"
        (vector rows) or a COO shape."""
        act = lambda outs: _collect_all(outs, kinds)
        check = lambda pdf: all(_close(g, w) for g, w in zip(_dense_all(pdf, kinds), want()))
        return Call(name, fn, act, check, rows, cells)

    def _attention_bwd(self):
        from gemmsql.ops import backward
        fn = lambda: backward.attention_bwd(
            self._rd("seq"), self._rd("seq"), self._rd("grad"), **self._opts("broadcast_kv"))
        s = self.s
        return self._multi("backward.attention_bwd", fn, ("vec",) * 3,
                           lambda: self.ref("attention_bwd"), 3 * s, 2 * s * s)

    def _xentropy_bwd(self):
        from gemmsql.ops import backward
        fn = lambda: backward.xentropy_bwd(self._rd("pred"), self._rd("cls"), **self._opts("broadcast_trg"))
        return self._multi("backward.xentropy_bwd", fn, ("vec", "vec"),
                           lambda: self.ref("xentropy_bwd"), self.m + self.n, 2 * self.m * self.n)

    def _xentropy_mlp_grads(self):
        from gemmsql.ops import chain
        k, p, q = self._weights()
        fn = lambda: chain.xentropy_mlp_grads(
            self._rd("pred"), self._rd("cls"), p, q, **self._opts("broadcast_trg"))
        kinds = ("vec", p.shape, q.shape, "vec")
        cells = 2 * self.m * self.n + 2 * self.m * gen.HIDDEN
        return self._multi("chain.xentropy_mlp_grads", fn, kinds,
                           lambda: self.ref(f"chain#{k}"), self.m + self.n, cells)


class BroadcastFolds(FoldWorkload):
    """Forward folds on their default ("auto" -> broadcast) path."""

    label = "broadcast"
    kinds = ("xentropy", "row_entropy", "sample_categorical", "attention_blocked", "mlp")

    def __init__(self, seed: int):
        super().__init__(seed, m=8192, n=2048, s=2048, block=None)


class TiledTrainFolds(FoldWorkload):
    """Backward folds forced onto the tiled path (4 tiles each)."""

    label = "tiled"
    kinds = ("xentropy_bwd", "attention_bwd")
    #: one chain call outlasts a whole cycle on a 4-core machine, so only
    #: the traced run makes it, after the window
    traced_only = ("xentropy_mlp_grads",)

    def __init__(self, seed: int):
        super().__init__(seed, m=2048, n=512, s=1024, block=512)


class Fold:
    """Broadcast-path forward folds, then tiled-path backward folds, each
    on their own generated inputs.  The inputs are read-only, so every
    cycle does the same work."""

    name = "fold"

    def __init__(self, seed: int):
        self.parts = (BroadcastFolds(seed), TiledTrainFolds(seed))

    def prepare(self, spark, in_dir: str) -> None:
        for p in self.parts:
            p.prepare(spark, os.path.join(in_dir, p.label))

    def first_calls(self):
        """A set-up round's call: xentropy, whose first driver-side
        collect and broadcast in a new session costs more than later
        ones, so it belongs in set-up."""
        return [self.parts[0].call("xentropy")]

    def warm_pass(self, work_dir: str):
        """One call of every kind, just before the window."""
        return self.cycle()

    def begin(self, work_dir: str) -> None:
        """Start of the timed window: nothing to reset."""

    def cycle(self):
        for p in self.parts:
            yield from p.cycle()

    def traced_calls(self):
        for p in self.parts:
            yield from p.traced_calls()

    def disk_bytes_per_row(self) -> float:
        """Bytes of the parquet inputs per input row."""
        files = [f for p in self.parts for f in p.paths.values()]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return sum(os.path.getsize(f) for f in files) / rows

    def final_checks(self) -> list[bool]:
        return []

    def layer_counts(self) -> dict[str, float]:
        return {}


# ------------------------------------------------------------ table_rw

STAT_COLS = ["o_orderdate", "o_totalprice"]


def _table_agg(df):
    return _agg(df, F.sum("o_orderkey"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path) for f in files
    )


class TableRW:
    """Writes beside reads on one table-log table.  Every step appends a
    batch, reads the snapshot and makes a narrow stats-pruned read;
    the first of every ``merge_every`` steps also merges, deletes keys
    and materializes the deletes, in that order (a merge refuses a
    table with live deletes).  Every read is checked against the
    generator's model of the table.  The seed draws the rows, never the
    shape of the work: the pruned read's date window is the middle of
    the table's date span at every step."""

    name = "table_rw"
    batch_rows = 50_000
    merge_rows = 2_000
    delete_rows = 1_000
    #: every third step merges: with a merge and a materialize among a
    #: cycle's twelve calls, the 90th percentile falls on those two
    #: rather than on the edge between the light and the heavy calls
    merge_every = 3
    #: width of the pruned read's date window, in days
    window_days = 3

    def __init__(self, seed: int):
        self.seed = seed
        self.spark = None
        #: the traced run probes each pruned read's candidate files
        self.probe_pruning = False

    def prepare(self, spark, in_dir: str) -> None:
        self.spark = spark
        self._new_table(os.path.join(in_dir, "table"))

    def _new_table(self, table_dir: str) -> None:
        from gemmsql.pipeline import tablelog as tl
        os.makedirs(os.path.join(table_dir, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(table_dir, tl.DATA_SUBDIR))
        self.table = table_dir
        self.inputs = table_dir + ".inputs"
        self.model = gen.TableModel()
        self.version = -1
        self.steps = 0
        self.merges = 0
        self.next_insert = gen.INSERT_KEY_BASE
        self.rows_appended = 0
        #: per pruned read: (candidate/live files, rows in candidate
        #: files, rows returned), when ``probe_pruning`` is set
        self.pruning: list[tuple[float, int, int]] = []

    def first_calls(self):
        """A set-up round's call: one append to the set-up table."""
        return [next(self.step(merge=False))]

    def warm_pass(self, work_dir: str):
        """One call of every kind, just before the window: a whole step
        with the merge on a table of its own."""
        self._new_table(os.path.join(work_dir, "table"))
        return self.step(merge=True)

    def begin(self, work_dir: str) -> None:
        """The timed window starts on a fresh table."""
        self._new_table(os.path.join(work_dir, "table"))

    def cycle(self):
        """``merge_every`` steps, the first with the merge, so the later
        steps' reads see the table the merge rewrote."""
        for k in range(self.merge_every):
            yield from self.step(merge=k == 0)

    def traced_calls(self):
        return iter(())

    def _input(self, t, name: str):
        path = gen.write_parquet(t, os.path.join(self.inputs, name))
        return self.spark.read.parquet(path)

    def _commit_call(self, name, fn, rows) -> Call:
        self.version += 1
        want = self.version
        return Call(name, fn, lambda v: v, lambda v: v == want, rows, 0)

    def _read_call(self, name, fn, want) -> Call:
        return Call(name, fn, _table_agg, lambda got: tuple(got) == want,
                    want[0], want[0] * len(STAT_COLS))

    def step(self, merge: bool):
        """Yield one step's calls.  Each call's inputs and expected
        result come from the model as it stands after the previous
        call, so calls are made lazily."""
        from gemmsql.pipeline import tablelog as tl
        spark, d, b = self.spark, self.table, self.steps
        self.steps += 1
        batch = gen.orders_batch(self.seed, b, self.batch_rows)
        src = self._input(batch, f"append{b}.parquet")
        yield self._commit_call(
            "tablelog.append_with_stats",
            lambda: tl.append_with_stats(spark, d, src, f"S{b:05d}.parquet", STAT_COLS),
            self.batch_rows)
        self.model.upsert(batch)
        self.rows_appended += self.batch_rows

        yield self._read_call("tablelog.snapshot_read_mor",
                              lambda: tl.snapshot_read_mor(spark, d), self.model.summary())

        day = (self.steps * gen.DAYS_PER_BATCH - self.window_days) // 2
        lo = gen.DATE0 + dt.timedelta(days=day)
        hi = lo + dt.timedelta(days=self.window_days - 1)
        want = self.model.summary(lo, hi)
        yield self._read_call(
            "tablelog.stats_pruned_read_where",
            lambda: tl.stats_pruned_read_where(spark, d, "o_orderdate", lo, hi), want)
        if self.probe_pruning:
            # after the read, so the probe cannot warm it
            cand = tl.candidate_files_where(spark, d, "o_orderdate", lo, hi)
            live = tl.candidate_files_where(spark, d, "o_orderdate")
            self.pruning.append((len(cand) / len(live),
                                 sum(r["n_rows"] for r in cand), want[0]))
        if not merge:
            return

        k = self.merges
        self.merges += 1
        upsert = gen.merge_source(self.seed, k, self.model.live_keys(),
                                  self.merge_rows, self.next_insert)
        self.next_insert += self.merge_rows
        src = self._input(upsert, f"merge{k}.parquet")
        yield self._commit_call("tablelog.merge_table",
                                lambda: tl.merge_table(spark, d, src), self.merge_rows)
        self.model.upsert(upsert)
        self.rows_appended += self.merge_rows - self.merge_rows // 2

        dels = gen.delete_keys(self.seed, k, self.model.live_keys(), self.delete_rows)
        keys = self._input(dels, f"delete{k}.parquet")
        yield self._commit_call("tablelog.delete_keys_mor",
                                lambda: tl.delete_keys_mor(spark, d, keys), self.delete_rows)
        self.model.delete(dels)

        yield self._commit_call("tablelog.materialize_deletes",
                                lambda: tl.materialize_deletes(spark, d), 0)

    def disk_bytes_per_row(self) -> float:
        """Bytes under the table directory per live row."""
        return _dir_bytes(self.table) / len(self.model.rows)

    def final_checks(self) -> list[bool]:
        """The final snapshot's row count and checksums against the model."""
        from gemmsql.pipeline import tablelog as tl
        got = _table_agg(tl.snapshot_read_mor(self.spark, self.table))
        return [tuple(got) == self.model.summary()]

    def layer_counts(self) -> dict[str, float]:
        """Context counts of the table at the end of the window, and the
        pruning of every probed read."""
        from gemmsql.pipeline import tablelog as tl
        d = self.table
        return {
            "tablelog.commits": self.version + 1,
            "tablelog.log_bytes": _dir_bytes(os.path.join(d, tl.LOG_SUBDIR)),
            "tablelog.live_files": len(tl.candidate_files_where(self.spark, d, "o_orderdate")),
            "tablelog.candidate_file_ratio": float(np.mean([p[0] for p in self.pruning])),
            "tablelog.rows_scanned_per_row_returned":
                sum(p[1] for p in self.pruning) / max(sum(p[2] for p in self.pruning), 1),
            "tablelog.bytes_written_per_row_appended":
                _dir_bytes(os.path.join(d, tl.DATA_SUBDIR)) / self.rows_appended,
        }


WORKLOADS = {w.name: w for w in (TableRW, Fold)}
