"""The fold executor's driver-side layout (``ops/_blocked.plan_tiles``).

A call on parquet-scan inputs plans without a Spark job: the broadcast
side is read with pyarrow, the tiled grid comes from footer min/max of
``i``.  Frames footers cannot describe (a filter, an in-memory frame,
sparse ids, a join) take the collecting fallbacks, and every path stays
equal to the dense float64 reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gemmsql.datamodel import embeddings_vectors
from gemmsql.ops import attention_blocked, sample_categorical, xentropy
from gemmsql.ops.backward import xentropy_bwd
from tests.conftest import SF_SMOKE

RTOL, ATOL = 1e-9, 1e-12


def _write(path, ids, mat, **extra) -> str:
    cols = {"i": pa.array(ids, pa.int64()),
            "vec": pa.array(list(mat), pa.list_(pa.float64()))}
    cols.update({k: pa.array(v, pa.int64()) for k, v in extra.items()})
    pq.write_table(pa.table(cols), str(path))
    return str(path)


def _inputs(spark, tmp_path, m=60, n=24, dim=8, step=1, seed=3):
    """Parquet-scan (pred, cls) frames and their dense arrays; row ids
    are ``k * step``."""
    rng = np.random.default_rng(seed)
    pred, cls = rng.normal(size=(m, dim)), rng.normal(size=(n, dim))
    lab = rng.integers(0, n, size=m)
    pids, cids = np.arange(m) * step, np.arange(n) * step
    pdf = spark.read.parquet(_write(tmp_path / "pred.parquet", pids, pred, label=cids[lab]))
    cdf = spark.read.parquet(_write(tmp_path / "cls.parquet", cids, cls))
    return pdf, cdf, (pred, cls, lab)


def _dense_xent(pred, cls, lab):
    s = pred @ cls.T
    mx = s.max(1)
    lse = mx + np.log(np.exp(s - mx[:, None]).sum(1))
    loss = lse - s[np.arange(len(lab)), lab]
    w = np.exp(s - lse[:, None])
    w[np.arange(len(lab)), lab] -= 1.0
    return loss, w @ cls, w.T @ pred


def _rows(df, col):
    pdf = df.toPandas().sort_values("i")
    v = pdf[col]
    return np.asarray(v.tolist(), np.float64) if col == "vec" else v.to_numpy()


def _jobs_during(sc, fn):
    group = "fold-layout-probe"
    sc.setJobGroup(group, "must stay empty")
    try:
        out = fn()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("fold-layout-probe-done", "")
    return out, jobs


def test_parquet_scan_folds_plan_without_jobs(spark, tmp_path):
    """Broadcast and tiled ``xentropy`` on parquet scans start no Spark
    job before their action; the pyarrow-read broadcast side gives the
    same bits as the collected one (a filter forces the collect)."""
    pdf, cdf, dense = _inputs(spark, tmp_path)
    sc = spark.sparkContext
    bcast, jobs = _jobs_during(sc, lambda: xentropy(pdf, cdf))
    assert jobs == []
    tiled, jobs = _jobs_during(
        sc, lambda: xentropy(pdf, cdf, block=16, broadcast_trg=False)
    )
    assert jobs == []
    assert "FlatMapGroupsInPandas" in tiled._jdf.queryExecution().executedPlan().toString()

    collected = xentropy(pdf, cdf.where(F.lit(True)))
    got = _rows(bcast, "loss")
    assert np.array_equal(got, _rows(collected, "loss"))
    want = _dense_xent(*dense)[0]
    assert np.allclose(got, want, rtol=RTOL, atol=ATOL)
    assert np.allclose(_rows(tiled, "loss"), want, rtol=RTOL, atol=ATOL)


def _filtered(spark, tmp_path):
    """A filtered ``embeddings_vectors`` frame on both sides; each row's
    true class is its own id."""
    vec = embeddings_vectors(spark, SF_SMOKE)
    keep = vec.where((F.col("i") % 3 != 0) & (F.col("i") < 150))
    x = np.asarray(keep.orderBy("i").toPandas()["vec"].tolist(), np.float64)
    pred = keep.select("i", "vec", F.col("i").alias("label"))
    return pred, keep.select("i", "vec"), (x, x, np.arange(len(x)))


def _in_memory(spark, tmp_path):
    pdf, _cdf, (pred, cls, lab) = _inputs(spark, tmp_path, seed=5)
    right = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(len(cls)), "vec": list(cls)}),
        "i long, vec array<double>",
    )
    return pdf, right, (pred, cls, lab)


def _sparse(spark, tmp_path):
    pdf, cdf, dense = _inputs(spark, tmp_path, step=10**9, seed=7)
    return pdf, cdf, dense


@pytest.mark.parametrize("inputs", [_sparse, _filtered, _in_memory])
def test_tiled_fallbacks_match_dense(spark, tmp_path, inputs):
    """Footers cannot bound ``i`` (a filter, an in-memory right side) or
    the footer range is sparse (ids ``k * 10**9``): the block ids are
    collected once and the tiled forward and backward still equal the
    dense float64 reference."""
    pred, trg, (x, t, lab) = inputs(spark, tmp_path)
    loss, gp, gt = _dense_xent(x, t, lab)
    got = _rows(xentropy(pred, trg, block=16, broadcast_trg=False), "loss")
    assert np.allclose(got, loss, rtol=RTOL, atol=ATOL)
    gpred, gtrg = xentropy_bwd(pred, trg, block=16, broadcast_trg=False)
    assert np.allclose(_rows(gpred, "vec"), gp, rtol=RTOL, atol=ATOL)
    assert np.allclose(_rows(gtrg, "vec"), gt, rtol=RTOL, atol=ATOL)


def test_broadcast_attention_with_joined_values(spark, tmp_path):
    """A distinct ``v_vec`` makes the broadcast right side a K|V join,
    which pyarrow cannot read: it is collected, and still matches."""
    pdf, cdf, (q, k, _lab) = _inputs(spark, tmp_path, n=30, seed=11)
    v = np.random.default_rng(12).normal(size=(30, 5))
    vdf = spark.read.parquet(_write(tmp_path / "v.parquet", np.arange(30), v))
    out = attention_blocked(pdf.select("i", "vec"), cdf, v_vec=vdf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" not in plan
    got = out.toPandas().sort_values(["i", "d"])["val"].to_numpy().reshape(len(q), -1)
    s = q @ k.T
    w = np.exp(s - s.max(1, keepdims=True))
    w /= w.sum(1, keepdims=True)
    assert np.allclose(got, w @ v, rtol=RTOL, atol=ATOL)


def test_broadcast_bound_counts_bytes_not_rows(spark, tmp_path, monkeypatch):
    """``broadcast="auto"`` sizes the right side as rows x dims x 8
    bytes: under a bound of 256 rows at 64 dims, 200 rows at 512 dims
    take the tiled path (a row bound would broadcast them), while 200
    rows at 64 dims still broadcast; sample_categorical keeps its row
    cap."""
    from gemmsql.ops import _blocked

    monkeypatch.setattr(_blocked, "BROADCAST_RIGHT_MAX_BYTES", 256 * 64 * 8)
    rng = np.random.default_rng(21)
    pred = rng.normal(size=(40, 512)) * 0.1
    wide = rng.normal(size=(200, 512)) * 0.1
    lab = rng.integers(0, 200, size=40)
    pdf = spark.read.parquet(_write(tmp_path / "p.parquet", np.arange(40), pred, label=lab))
    wdf = spark.read.parquet(_write(tmp_path / "w.parquet", np.arange(200), wide))
    narrow = spark.read.parquet(
        _write(tmp_path / "n.parquet", np.arange(200), wide[:, :64])
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert not _blocked.use_broadcast("auto", wdf)
    assert _blocked.use_broadcast("auto", narrow)
    out = xentropy(pdf, wdf)
    assert "FlatMapGroupsInPandas" in plan(out)
    got = _rows(out, "loss")
    assert np.allclose(got, _dense_xent(pred, wide, lab)[0], rtol=RTOL, atol=ATOL)
    assert "FlatMapGroupsInPandas" not in plan(sample_categorical(pdf, wdf))


def test_broadcast_bound_follows_the_driver_heap(spark, tmp_path, monkeypatch):
    """``"auto"`` bounds the right side by an eighth of the session's
    ``spark.driver.memory``, capped at 128 MiB: the benchmark's 1g and
    the engine's default 16g keep 128 MiB, a 512m driver gets 64 MiB."""
    import os

    from gemmsql.ops import _blocked

    parse = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb
    mib = 1 << 20
    bounds = {t: _blocked.broadcast_max_bytes(parse(t)) for t in ("512m", "512", "1g", "16g")}
    assert bounds == {"512m": 64 * mib, "512": 64 * mib, "1g": 128 * mib, "16g": 128 * mib}
    assert _blocked.driver_heap_mb(spark) == parse(os.environ.get("GEMMSQL_DRIVER_MEM", "16g"))

    # a 1 MiB heap bounds the right side at 128 KiB: 200 x 64 x 8 bytes
    # broadcast, 400 x 64 x 8 do not
    monkeypatch.setattr(_blocked, "driver_heap_mb", lambda spark: 1)
    rng = np.random.default_rng(22)
    small = spark.read.parquet(_write(tmp_path / "s.parquet", np.arange(200), rng.normal(size=(200, 64))))
    big = spark.read.parquet(_write(tmp_path / "b.parquet", np.arange(400), rng.normal(size=(400, 64))))
    assert _blocked.use_broadcast("auto", small)
    assert not _blocked.use_broadcast("auto", big)
