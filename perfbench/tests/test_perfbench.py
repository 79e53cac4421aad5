"""Unit tests of the benchmark's own parts; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, gen, measure, reference  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_v2_local-1")


# ------------------------------------------------------------ event log


def test_eventlog_reads_rolled_files_in_order():
    files = [os.path.basename(p) for p in eventlog.log_files(FIXTURE)]
    assert files == ["events_1_local-1", "events_2_local-1"]


def test_eventlog_metrics_per_job_group():
    g = eventlog.read_groups(os.path.dirname(FIXTURE))
    assert set(g) == {"a#0", "b#1", eventlog.NO_GROUP}
    a = g["a#0"]
    assert a["jobs"] == 2
    # stage 0 re-listed by job 1 stays with its first job; stage 1's
    # task, logged in the second file, still lands in a#0
    assert a["tasks"] == 3
    assert a["executor_cpu_s"] == pytest.approx(3.5)
    assert a["executor_run_s"] == pytest.approx(2.25)
    assert a["shuffle_write_bytes"] == 1500
    assert a["shuffle_read_bytes"] == 1000
    assert a["shuffle_fetch_wait_s"] == pytest.approx(0.02)
    assert a["spill_bytes"] == 64
    assert a["peak_exec_mem_mb"] == pytest.approx(4.0)  # largest task, not the sum
    assert a["gc_s"] == pytest.approx(0.1)
    assert a["result_bytes"] == 110
    assert a["failed_tasks"] == 0
    b = g["b#1"]
    assert (b["jobs"], b["tasks"], b["failed_tasks"]) == (1, 2, 1)
    assert g[eventlog.NO_GROUP]["tasks"] == 1


# ------------------------------------------------------------ percentiles


@pytest.mark.parametrize("n, want", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert measure.tail_percentile(n) == want
    if want is not None:
        beyond = n - int(np.ceil(n * want / 100))
        assert beyond >= measure.MIN_BEYOND


def test_harrell_davis_percentile():
    assert measure.percentile([2.0] * 7, 90) == pytest.approx(2.0)
    # symmetric weights: the median of a symmetric sample is its centre
    assert measure.percentile([1.0, 2.0, 4.0, 6.0, 7.0], 50) == pytest.approx(4.0)
    xs = np.arange(1.0, 13.0)
    p90 = measure.percentile(xs, 90)
    assert 10.0 < p90 < 12.0
    assert measure.percentile(xs, 50) < measure.percentile(xs, 75) < p90
    # on a large sample it agrees with the interpolated sample percentile
    big = np.random.default_rng(0).exponential(size=4000)
    assert measure.percentile(big, 90) == pytest.approx(np.percentile(big, 90), rel=0.02)


# ------------------------------------------------------------ generator


def test_fold_inputs_are_deterministic(tmp_path):
    a = gen.FoldInputs(7, 64, 16, 32).write(str(tmp_path / "a"))
    b = gen.FoldInputs(7, 64, 16, 32).write(str(tmp_path / "b"))
    c = gen.FoldInputs(8, 64, 16, 32).write(str(tmp_path / "c"))
    for k in a:
        assert pq.read_table(a[k]).equals(pq.read_table(b[k]))
        assert not pq.read_table(a[k]).equals(pq.read_table(c[k]))
    pred = pq.read_table(a["pred"])
    assert pred.column_names == ["i", "vec", "label"]
    assert pred.column("label").to_numpy().max() < 16


def test_orders_batches_are_deterministic_and_carry_date_stats(tmp_path):
    t1 = gen.orders_batch(3, 2, 1000)
    assert t1.equals(gen.orders_batch(3, 2, 1000))
    assert not t1.equals(gen.orders_batch(4, 2, 1000))
    keys = t1.column("o_orderkey").to_numpy()
    assert keys.min() == 2001 and keys.max() == 3000
    path = gen.write_parquet(t1, str(tmp_path / "o.parquet"))
    md = pq.ParquetFile(path).metadata
    col = md.schema.names.index("o_orderdate")
    st = md.row_group(0).column(col).statistics
    # DATE with footer min/max: what tablelog's append stats require
    assert str(md.schema.column(col).logical_type) == "Date"
    assert st is not None and st.has_min_max


def test_table_model_tracks_upserts_and_deletes():
    m = gen.TableModel()
    m.upsert(gen.orders_batch(1, 0, 100))
    m.upsert(gen.orders_batch(1, 1, 100))
    src = gen.merge_source(1, 0, m.live_keys(), 20, gen.INSERT_KEY_BASE)
    m.upsert(src)
    assert m.summary()[0] == 210
    dels = gen.delete_keys(1, 0, m.live_keys(), 5)
    m.delete(dels)
    rows, key_sum, _ = m.summary()
    keys = set(range(1, 201)) | set(range(gen.INSERT_KEY_BASE, gen.INSERT_KEY_BASE + 10))
    keys -= set(dels.column("o_orderkey").to_pylist())
    assert (rows, key_sum) == (len(keys), sum(keys))


# ------------------------------------------------------------ references


def test_sampling_noise_matches_the_engine():
    from gemmsql.ops.sampling import _gumbel_noise

    rows = np.arange(5, 40, dtype=np.int64)
    cls = np.arange(0, 17, dtype=np.int64)
    np.testing.assert_array_equal(reference.gumbel(42, rows, cls),
                                  _gumbel_noise(42, rows, cls))


def test_attention_bwd_reference_matches_finite_differences():
    r = np.random.default_rng(0)
    x, g = r.normal(size=(6, 3)), r.normal(size=(6, 3))

    def loss(q, k, v):
        s = q @ k.T
        w = np.exp(s - s.max(axis=1, keepdims=True))
        w /= w.sum(axis=1, keepdims=True)
        return float((w @ v * g).sum())

    gq, gk, gv = reference.attention_bwd(x, g)
    eps = 1e-6
    for which, grad in enumerate((gq, gk, gv)):
        num = np.zeros_like(x)
        for idx in np.ndindex(x.shape):
            args = [x.copy(), x.copy(), x.copy()]
            args[which][idx] += eps
            hi = loss(*args)
            args[which][idx] -= 2 * eps
            num[idx] = (hi - loss(*args)) / (2 * eps)
        np.testing.assert_allclose(grad, num, rtol=1e-5, atol=1e-7)


# ------------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_lists_every_reported_metric():
    import json
    import re

    from perfbench import layers

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.layer_metric_units()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
               for m in bench["end_to_end"] + bench["per_layer"])
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
