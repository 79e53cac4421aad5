"""Tests for the oracle-exact quantized gate ops (gemmsql/ops/gate.py).

Two properties matter:
1. *Fidelity*: gate outputs approximate the full-precision float ops
   (inputs are quantized at 1e-6, so outputs drift O(1e-4) at most).
2. *Bit-stability*: the same query returns the byte-identical table
   under different shuffle partitioning and physical paths — the
   property whose absence made round 1's ROUND(,6) hashes flaky.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


def _hash(pdf: pd.DataFrame) -> str:
    import hashlib

    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(repr(v) for v in row)
        for row in pdf[cols].itertuples(index=False)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode() + b"\n")
    return h.hexdigest()


def _vec(spark):
    from gemmsql.datamodel import embeddings_vectors

    return embeddings_vectors(spark, SF_SMOKE)


# ------------------------------------------------------------- fidelity

def test_attention_gate_close_to_float(spark, emb_matrix):
    from gemmsql.ops.gate import attention_gate

    _ids, x, _lab = emb_matrix
    s = x @ x.T / np.sqrt(x.shape[1])
    w = np.exp(s - s.max(axis=1, keepdims=True))
    ref = (w / w.sum(axis=1, keepdims=True)) @ x

    vec = _vec(spark).select("i", "vec")
    out = attention_gate(vec, vec, scale=True).orderBy("i", "d").toPandas()
    got = out["val"].to_numpy().reshape(ref.shape)
    assert np.allclose(got, ref, atol=1e-4)


def test_mlp_gate_close_to_float(spark, emb_matrix):
    from gemmsql.ops.gate import mlp_gate

    _ids, x, _lab = emb_matrix
    w = x.T @ x / len(x)
    ref = np.maximum(x @ w, 0.0) @ w

    out = mlp_gate(_vec(spark)).orderBy("i", "k").toPandas()
    got = out["val"].to_numpy().reshape(ref.shape)
    assert np.allclose(got, ref, atol=1e-3)


def test_attention_grads_gate_close_to_numpy(spark, emb_matrix):
    from gemmsql.ops.gate import attention_grads_gate

    _ids, x, _lab = emb_matrix
    n, d = x.shape
    s = x @ x.T
    w = np.exp(s - s.max(axis=1, keepdims=True))
    w /= w.sum(axis=1, keepdims=True)
    g = np.ones((n, d))
    gv_ref = w.T @ g
    gdot = g @ x.T                      # (m, n): g_m . v_n
    r = (w * gdot).sum(axis=1, keepdims=True)
    gs = w * (gdot - r)
    gq_ref = gs @ x
    gk_ref = gs.T @ x

    out = attention_grads_gate(_vec(spark).select("i", "vec")).toPandas()
    for which, ref in (("gq", gq_ref), ("gk", gk_ref), ("gv", gv_ref)):
        sub = out[out["which"] == which].sort_values(["i", "d"])
        got = sub["val"].to_numpy().reshape(ref.shape)
        # gs is quantized at 1e-4, so tolerance is looser on gq/gk
        atol = 1e-4 if which == "gv" else 5e-2
        assert np.allclose(got, ref, atol=atol), which


def test_xentropy_gate_close_to_numpy(spark, emb_matrix):
    from gemmsql.ops.gate import xentropy_gate

    ids, x, lab = emb_matrix
    s = x @ x.T
    z = np.log(np.exp(s - s.max(1, keepdims=True)).sum(1)) + s.max(1)
    pos = {int(i): k for k, i in enumerate(ids)}
    ref = z - s[np.arange(len(x)), [pos[int(l)] for l in lab]]

    out = xentropy_gate(_vec(spark)).orderBy("i").toPandas()
    assert np.allclose(out["loss"].to_numpy(), ref, atol=1e-4)


# ---------------------------------------------------------- bit-stability

@pytest.mark.parametrize("name", [
    # merged registry (round 3): "attention" carries plain/scaled/kv,
    # "ml_grads" carries att_*/xe_*/mlp_* legs — same coverage as the
    # seven pre-merge entries
    "gram", "mlp", "attention", "ml_grads", "entropy",
])
def test_gate_bit_stable_across_partitionings(spark, name):
    import __spark_entry__ as em

    q = em.queries()[name]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        h1 = _hash(q(spark, SF_SMOKE).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        h2 = _hash(q(spark, SF_SMOKE).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert h1 == h2, f"{name} not bit-stable across partitionings"


def test_attention_gate_blocked_matches_broadcast(spark):
    """The tiled (large-KV) physical path must be bit-identical to the
    broadcast path — exact integer merges make tile order irrelevant."""
    from gemmsql.ops.gate import attention_gate

    vec = _vec(spark).select("i", "vec")
    hb = _hash(attention_gate(vec, vec, scale=True).toPandas())
    ht = _hash(
        attention_gate(
            vec.repartition(5), vec, scale=True, block=64, broadcast_kv=False
        ).toPandas()
    )
    assert hb == ht


def test_attention_kv_gate_blocked_matches_broadcast(spark):
    """Distinct-V attention through the gate: both physical paths
    bit-identical, and within 1e-4 of the float NumPy oracle."""
    from pyspark.sql import functions as F

    from gemmsql.ops.gate import attention_gate

    vec = _vec(spark).select("i", "vec")
    v_vec = vec.select("i", F.reverse("vec").alias("vec"))
    out = attention_gate(vec, vec, v_vec=v_vec).orderBy("i", "d").toPandas()
    ht = _hash(
        attention_gate(
            vec.repartition(5), vec, v_vec=v_vec, block=64, broadcast_kv=False
        ).toPandas()
    )
    assert _hash(out) == ht

    pdf = _vec(spark).orderBy("i").toPandas()
    x = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
    s = x @ x.T
    w = np.exp(s - s.max(axis=1, keepdims=True))
    ref = (w / w.sum(axis=1, keepdims=True)) @ x[:, ::-1]
    got = out["val"].to_numpy().reshape(ref.shape)
    assert np.allclose(got, ref, atol=1e-4)


def test_all_gate_blocked_paths_match_broadcast(spark):
    """Every gate op with a tiled large-input variant must produce the
    byte-identical table on both physical paths — the exact-integer
    merge makes tile order irrelevant at any scale."""
    from gemmsql.ops import gate

    vec = _vec(spark)
    cases = [
        lambda b: gate.attention_grads_gate(vec, block=96, broadcast_kv=b),
        lambda b: gate.xentropy_grads_gate(vec, block=96, broadcast_trg=b),
        lambda b: gate.xentropy_gate(vec, block=96, broadcast_trg=b),
        lambda b: gate.entropy_gate(vec, block=96, broadcast_trg=b),
        lambda b: gate.chain2_grads_gate(vec, block=96, broadcast_kv=b),
    ]
    for fn in cases:
        assert _hash(fn(True).toPandas()) == _hash(fn(False).toPandas())


def test_label_without_class_row_paths_agree(spark):
    """A label with no class row gets no one-hot on either path (the
    tile-local mask of reference xentropy.py:12): the broadcast path
    must not fail looking it up, and both paths give the same table
    for every op that reads labels."""
    from pyspark.sql import functions as F

    from gemmsql.ops import gate

    vec = _vec(spark)
    first = vec.agg(F.min("i")).first()[0]
    vec = vec.withColumn(
        "label",
        F.when(F.col("i") == first, F.lit(-7).cast("long")).otherwise(F.col("label")),
    )
    cases = {
        "xentropy_gate": lambda b: gate.xentropy_gate(vec, block=96, broadcast_trg=b),
        "xentropy_grads_gate": lambda b: gate.xentropy_grads_gate(
            vec, block=96, broadcast_trg=b
        ),
        "chain_grads_gate": lambda b: gate.chain_grads_gate(
            vec, block=96, broadcast_trg=b
        ),
    }
    for name, fn in cases.items():
        assert _hash(fn(True).toPandas()) == _hash(fn(False).toPandas()), name


def test_fused_plain_kv_matches_separate_paths(spark):
    """The fused plain+kv pass must be bit-identical to its blocked
    fallback (two separate attention_gate calls)."""
    from pyspark.sql import functions as F

    from gemmsql.ops.gate import attention_gate_plain_kv

    vec = _vec(spark).select("i", "vec")
    v_rev = vec.select("i", F.reverse("vec").alias("vec"))
    fused = attention_gate_plain_kv(vec, vec, v_rev, broadcast_kv=True)
    split = attention_gate_plain_kv(vec, vec, v_rev, broadcast_kv=False)
    assert _hash(fused.toPandas()) == _hash(split.toPandas())


def test_fused_grads_match_separate_gates(spark):
    """The fused attention+xentropy grads pass must be bit-identical to
    the separate per-op gates (same math, same grids) on BOTH physical
    paths."""
    from pyspark.sql import functions as F

    from gemmsql.ops.gate import (
        attention_grads_gate,
        attention_xe_grads_gate_fused,
        xentropy_grads_gate,
    )

    vec = _vec(spark)

    def tag(df, prefix):
        return df.select(
            F.concat(F.lit(prefix), F.col("which")).alias("which"),
            "i", "d", "val",
        )

    want = _hash(
        tag(attention_grads_gate(vec.select("i", "vec")), "att_")
        .unionByName(tag(xentropy_grads_gate(vec), "xe_"))
        .toPandas()
    )
    assert _hash(
        attention_xe_grads_gate_fused(vec, broadcast_kv=True).toPandas()
    ) == want
    assert _hash(
        attention_xe_grads_gate_fused(vec, broadcast_kv=False).toPandas()
    ) == want


def test_chain_grads_gate_blocked_matches_broadcast(spark):
    """chain_grads: stage 2 (xentropy vjp on pred-vs-trg) must be
    byte-identical on the broadcast and blocked-tile paths — the
    chained requantization consumes MERGED integer numerators, so tile
    order cannot leak into gs."""
    from gemmsql.ops.gate import chain_grads_gate

    vec = _vec(spark)
    a = chain_grads_gate(vec, block=96, broadcast_trg=True)
    b = chain_grads_gate(vec, block=96, broadcast_trg=False)
    assert _hash(a.toPandas()) == _hash(b.toPandas())


def test_chain_grads_gate_close_to_float_chain(spark, emb_matrix):
    """The quantized end-to-end chain must approximate the analytic
    float chain rule (inputs on the 1e-6 grid -> O(1e-3) drift through
    two requantized matmul stages)."""
    from gemmsql.ops.gate import chain_grads_gate, mlp_weights_int

    vec = _vec(spark)
    pdf = vec.orderBy("i").toPandas()
    x = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
    lab = pdf["label"].to_numpy()
    n = len(pdf)

    g_int, cnt = mlp_weights_int(vec)
    w = g_int.astype(np.float64) / (1e12 * float(cnt))

    # float chain: pred = relu(xW)W; loss = xentropy(pred, trg=x)
    h = x @ w
    a = np.maximum(h, 0.0)
    pred = a @ w
    s = pred @ x.T
    sm = np.exp(s - s.max(1, keepdims=True))
    sm /= sm.sum(1, keepdims=True)
    onehot = (lab[:, None] == pdf["i"].to_numpy()[None, :]).astype(float)
    dlt = sm - onehot
    gpred = dlt @ x
    gtrg = dlt.T @ pred
    gh = (gpred @ w.T) * (h > 0)
    gx = gh @ w.T
    gp = x.T @ gh
    gq = a.T @ gpred

    out = chain_grads_gate(vec, broadcast_trg=True).toPandas()
    # gx runs on the fine 1e9 grid; gp/gq accumulate across rows and
    # stay on the 1e6 grid (gradient magnitudes ~1e-2..1e-4, so the
    # coarse-grid legs carry visible quantization — by design, see
    # chain_grads_gate docstring)
    tol = {"gx": 1e-4, "gp": 5e-3, "gq": 1e-4, "gtrg": 1e-4}
    for which, ref in (("gx", gx), ("gp", gp), ("gq", gq), ("gtrg", gtrg)):
        got = (
            out[out["which"] == which]
            .sort_values(["i", "d"])["val"]
            .to_numpy()
            .reshape(ref.shape)
        )
        assert np.allclose(got, ref, atol=tol[which]), which


def test_ml_grads_fused_matches_separate_gates(spark):
    """The r6 eight-leg fusion (att+xe+mlp from one kernel) must be
    bit-identical to the three separate gates on BOTH physical paths —
    the exact int64 accumulators make partition/batch boundaries
    invisible, so fusing the MLP legs into the softmax-chain kernel
    cannot move a single value."""
    from pyspark.sql import functions as F

    from gemmsql.ops.gate import (
        attention_xe_grads_gate_fused,
        ml_grads_gate_fused,
        mlp_grads_gate,
    )

    vec = _vec(spark)
    want = _hash(
        attention_xe_grads_gate_fused(vec, broadcast_kv=True)
        .unionByName(
            mlp_grads_gate(vec).select(
                F.concat(F.lit("mlp_"), F.col("which")).alias("which"),
                "i", "d", "val",
            )
        )
        .toPandas()
    )
    assert _hash(
        ml_grads_gate_fused(vec, broadcast_kv=True).toPandas()
    ) == want
    assert _hash(
        ml_grads_gate_fused(vec, broadcast_kv=False).toPandas()
    ) == want
