"""KMV bottom-k distinct sketch (gemmsql/sketches.py) — the fifth
sketch family: monoid laws, partitioning invariance, estimator
accuracy, set-operation accuracy."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _sketch_map(df):
    return {r["event_type"]: list(r["s"]) for r in df.collect()}


def test_kmv_sketch_partitioning_invariant(spark):
    """Bottom-k-of-distinct is a commutative idempotent monoid: any
    repartitioning (different tile boundaries, different merge order)
    must yield the same state bit-for-bit."""
    from gemmsql.datamodel import load_table
    from gemmsql.sketches import kmv_sketch

    ev = load_table(spark, SF_SMOKE, "events")
    base = _sketch_map(kmv_sketch(ev, k=64))
    for n in (1, 7):
        alt = _sketch_map(kmv_sketch(ev.repartition(n), k=64))
        assert alt == base, f"repartition({n}) changed the sketch"


def test_kmv_sketch_is_bottom_k_of_distinct(spark):
    """The state IS the k smallest distinct hashes — cross-checked
    against a brute-force window rank in DuckDB."""
    from gemmsql.datamodel import load_table
    from gemmsql.sketches import kmv_sketch

    ev = load_table(spark, SF_SMOKE, "events")
    got = _sketch_map(kmv_sketch(ev, k=16))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'"
    )
    want = {
        t: v
        for t, v in con.execute(
            """
            WITH h AS (SELECT DISTINCT event_type,
                 CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
                      AS BIGINT) AS h60 FROM events),
            r AS (SELECT event_type, h60, row_number()
                  OVER (PARTITION BY event_type ORDER BY h60) rk FROM h)
            SELECT event_type, list(h60 ORDER BY h60)
            FROM r WHERE rk <= 16 GROUP BY 1
            """
        ).fetchall()
    }
    con.close()
    assert got == want


def test_kmv_estimator_accuracy_and_set_ops(spark):
    """On a synthetic overlap (types A and B share exactly half their
    ids), card / union / intersection estimates land within 4 std
    errors of truth, and jaccard(A,B) is near 1/3."""
    from gemmsql.sketches import KMV_K, _kmv_est, kmv_sketch

    n = 4000  # per type; |A u B| = 6000, |A n B| = 2000
    rows = [("A", i) for i in range(n)] + [
        ("B", i) for i in range(n // 2, n + n // 2)
    ]
    df = spark.createDataFrame(rows, "event_type string, uid long")
    sk = kmv_sketch(df, id_col="uid")
    est = {
        r["event_type"]: r["e"]
        for r in sk.select(
            "event_type", _kmv_est(F.col("s")).alias("e")
        ).collect()
    }
    se = 1.0 / (KMV_K - 2) ** 0.5  # relative std error
    for t in ("A", "B"):
        assert abs(est[t] - n) / n < 4 * se, (t, est[t])

    a, b = _sketch_map(sk)["A"], _sketch_map(sk)["B"]
    merged = sorted(set(a) | set(b))
    ucut = merged[:KMV_K]
    u_est = (
        len(merged)
        if len(merged) < KMV_K
        else (KMV_K - 1) * float(1 << 60) / ucut[-1]
    )
    assert abs(u_est - 1.5 * n) / (1.5 * n) < 4 * se
    rho = len(set(ucut) & set(a) & set(b)) / len(ucut)
    assert abs(rho - 1 / 3) < 4 * se * (1 / 3) + 0.05
    assert abs(rho * u_est - n / 2) / (n / 2) < 8 * se + 0.1


def test_kmv_reach_gate_parity(spark):
    """In-repo twin of the driver hash gate (no gate entrant without
    in-repo parity); at this tier every sketch is below saturation so
    card rows are EXACT user-day counts — also asserted."""
    from gemmsql.sketches import KMV_REACH_SQL, kmv_reach
    from tests.test_rotation import _hash

    sdf = kmv_reach(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'"
    )
    odf = con.execute(KMV_REACH_SQL).df()
    exact = {
        t: d
        for t, d in con.execute(
            "SELECT event_type, COUNT(DISTINCT CAST(user_id AS VARCHAR)"
            " || '/' || strftime(ts, '%Y-%m-%d')) FROM events GROUP BY 1"
        ).fetchall()
    }
    con.close()
    assert len(sdf) == len(odf) > 0
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert _hash(sdf) == _hash(odf)
    card = sdf[sdf.which == "card"].set_index("a").est
    for t, d in exact.items():
        assert card[t] == pytest.approx(d), t
    jac = sdf[sdf.which == "jaccard"].est
    assert (jac > 0).all() and (jac < 1).all(), "degenerate overlap"
