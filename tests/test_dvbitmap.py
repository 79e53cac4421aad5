"""Deletion-vector bitmaps (`gemmsql/pipeline/dvbitmap.py`, VERDICT
r15 next #3): roaring-style round-trip properties, the container-mode
crossover, the on-disk size win over the legacy (path, pos) row list,
format evolution (legacy PD files stay readable), and encoding
equivalence — the MOR view must hash identically whichever encoding
the delete file carries.

Reference parity note: the reference engine has no table format; the
deletion-vector shape follows Delta's DV table feature / Iceberg v3
position deletes as public prior art (RoaringBitmap container design).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMOKE

from gemmsql.datamodel import load_table
from gemmsql.pipeline import tablelog as tl
from tests import spark_replay as sr
from gemmsql.pipeline.dvbitmap import (
    cardinality,
    decode_positions,
    encode_positions,
)


# ---------- pure encoder properties ----------

@given(st.lists(st.integers(min_value=0, max_value=2 ** 40),
                max_size=2000))
@settings(max_examples=200, deadline=None)
def test_roundtrip_property(positions):
    want = np.unique(np.asarray(positions, dtype=np.int64))
    got = decode_positions(encode_positions(positions))
    assert np.array_equal(got, want)
    assert cardinality(encode_positions(positions)) == want.size


def test_container_mode_crossover():
    # exactly at the array->bitset boundary and one past it
    for n in (4096, 4097):
        pos = np.arange(n, dtype=np.int64) * 2  # same 64Ki block? no:
        # stride-2 over n=4097 spans positions up to 8192 < 65536,
        # so all lows share container key 0 — the crossover fires
        blob = encode_positions(pos)
        assert np.array_equal(decode_positions(blob), pos)
    # a dense container must cost the 8 KiB ceiling, not 2B/row
    dense = encode_positions(np.arange(60000))
    assert len(dense) < 60000 * 2


def test_boundaries_and_refusals():
    for edge in ([0], [65535], [65536], [2 ** 33]):
        assert decode_positions(encode_positions(edge)).tolist() == edge
    assert decode_positions(encode_positions([])).size == 0
    with pytest.raises(ValueError, match="non-negative"):
        encode_positions([-1])
    with pytest.raises(ValueError, match="magic"):
        decode_positions(b"nope" + b"\x00" * 16)


# ---------- the table integration ----------

def test_dv_size_beats_row_list(spark, tmp_path):
    """The storage claim itself: the committed PD file costs a few
    bytes per deleted position, not the ~20 of a literal row list."""
    d = str(tmp_path / "dvsize")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    tl.commit_actions(d, [tl._write_with_add_action(
        orders, d, "A.parquet")])
    v = tl.delete_positions_mor(spark, d, "o_orderkey % 3 = 0")
    act = [a for a in tl.read_log(spark, d)
           .filter(tl.F.col("v") == v).collect() if a["a"] == "posdel"]
    assert len(act) == 1
    n_del = act[0]["n_rows"]
    size = act[0]["n_bytes"]
    assert n_del > 100
    # parquet wraps the blob, so allow generous fixed overhead; the
    # per-row slope is what the encoding changes (~2B/pos vs ~20)
    assert size < n_del * 4 + 8192, (size, n_del)
    # and the MOR view subtracted exactly the predicate's rows
    got = tl.snapshot_read_mor(spark, d)
    assert got.filter("o_orderkey % 3 = 0").count() == 0
    assert got.count() == orders.filter("o_orderkey % 3 != 0").count()


def test_legacy_row_list_pd_file_still_reads(spark, tmp_path):
    """Format evolution: a PD file written by the pre-r16 row-list
    encoder subtracts identically — old tables stay readable."""
    d = str(tmp_path / "dvlegacy")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    tl.commit_actions(d, [tl._write_with_add_action(
        orders, d, "A.parquet")])
    # hand-write the LEGACY encoding for the same predicate
    tagged = (
        tl._table_reader(spark, tl._snapshot(d)).parquet(
            os.path.join(d, tl.DATA_SUBDIR, "A.parquet"))
        .select(
            "*",
            tl.F.regexp_extract(
                tl.F.col("_metadata.file_path"), "[^/]+$", 0
            ).alias("path"),
            tl.F.col("_metadata.row_index").alias("pos"),
        )
        .filter("o_orderkey % 5 = 0")
        .select("path", "pos")
    )
    rows = tagged.toPandas()
    dest = os.path.join(d, tl.DATA_SUBDIR, "PDLEGACY.parquet")
    rows.to_parquet(dest, index=False)
    tl.commit_actions(d, [{
        "a": "posdel", "path": "PDLEGACY.parquet",
        "n_rows": int(len(rows)), "n_bytes": os.path.getsize(dest),
    }])
    got = tl.snapshot_read_mor(spark, d)
    assert got.filter("o_orderkey % 5 = 0").count() == 0
    assert got.count() == orders.filter("o_orderkey % 5 != 0").count()


def test_encodings_agree_and_materialize(spark, tmp_path):
    """Encoding equivalence end-to-end: two copies of one table, the
    same positional predicate deleted — one through the DV writer,
    one through a hand-written legacy row list — must produce
    identical MOR views, and materialization must fold both back to
    the same copy-on-write table."""
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    dirs = {}
    for name in ("dv", "legacy"):
        d = str(tmp_path / f"dveq_{name}")
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        tl.commit_actions(d, [tl._write_with_add_action(
            orders, d, "A.parquet")])
        dirs[name] = d
    pred = "o_orderkey % 7 = 2"
    tl.delete_positions_mor(spark, dirs["dv"], pred)
    d = dirs["legacy"]
    rows = (
        tl._table_reader(spark, tl._snapshot(d)).parquet(
            os.path.join(d, tl.DATA_SUBDIR, "A.parquet"))
        .select(
            "*",
            tl.F.regexp_extract(
                tl.F.col("_metadata.file_path"), "[^/]+$", 0
            ).alias("path"),
            tl.F.col("_metadata.row_index").alias("pos"),
        )
        .filter(pred).select("path", "pos")
    ).toPandas()
    dest = os.path.join(d, tl.DATA_SUBDIR, "PDLEGACY.parquet")
    rows.to_parquet(dest, index=False)
    tl.commit_actions(d, [{
        "a": "posdel", "path": "PDLEGACY.parquet",
        "n_rows": int(len(rows)), "n_bytes": os.path.getsize(dest),
    }])
    a = sorted(tl.snapshot_read_mor(spark, dirs["dv"]).collect())
    b = sorted(tl.snapshot_read_mor(spark, dirs["legacy"]).collect())
    assert a == b and len(a) > 0
    # materialization folds BOTH encodings to the same CoW table
    for d in dirs.values():
        tl.materialize_deletes(spark, d)
    am = sorted(tl.snapshot_read(spark, dirs["dv"]).collect())
    bm = sorted(tl.snapshot_read(spark, dirs["legacy"]).collect())
    assert am == bm == a


def test_compact_delete_files(spark, tmp_path):
    """Iceberg's rewrite-position-deletes maintenance: several small
    PD files merge into ONE DV file in one commit — the MOR view is
    unchanged, the live delete-file count drops to 1, and the
    mid-stream IVM nets ZERO row deltas from the compaction commit
    (retiring posdels expand as inverse +1 against the new -1)."""
    from gemmsql.pipeline.tablelog import ivm_drain, ivm_view
    from tests.spark_replay import snapshot_delete_files

    d = str(tmp_path / "dvcompact")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    tl.commit_actions(d, [tl._write_with_add_action(
        orders, d, "A.parquet")])
    tl.delete_positions_mor(spark, d, "o_orderkey % 5 = 0")
    tl.delete_positions_mor(spark, d, "o_orderkey % 7 = 1")
    tl.delete_positions_mor(spark, d, "o_orderkey % 11 = 3")
    before = sorted(tl.snapshot_read_mor(spark, d).collect())
    assert snapshot_delete_files(spark, d).count() == 3
    # the IVM view BEFORE compaction
    ckpt = str(tmp_path / "dvc_ckpt")
    em = str(tmp_path / "dvc_emissions")
    ivm_drain(spark, d, ckpt, em)
    view_before = sorted(ivm_view(spark, em).collect())
    tl.compact_delete_files(spark, d)
    assert snapshot_delete_files(spark, d).count() == 1
    after = sorted(tl.snapshot_read_mor(spark, d).collect())
    assert after == before and len(after) > 0
    # the compaction commit drains as a NET-ZERO change
    ivm_drain(spark, d, ckpt, em)
    assert sorted(ivm_view(spark, em).collect()) == view_before
    # fewer than 2 live PD files refuses
    with pytest.raises(ValueError, match="nothing to compact"):
        tl.compact_delete_files(spark, d)
    # materialization folds the compacted DV exactly
    tl.materialize_deletes(spark, d)
    assert sorted(tl.snapshot_read(spark, d).collect()) == before


def test_overlapping_deletes_retract_once_in_ivm(spark, tmp_path):
    """The r16 overlap fix: the batch MOR read composes anti-join
    FILTERS (a row dies once however many delete files name it), but
    the streaming IVM is arithmetic — before the fix two overlapping
    positional deletes (or a keydel crossing a posdel) retracted
    overlap rows TWICE, silently diverging the maintained view.  Two
    overlapping posdels plus a keydel covering part of both must
    leave the IVM view hash-equal to the batch recompute."""
    from gemmsql.pipeline.tablelog import ivm_drain, ivm_view

    d = str(tmp_path / "dvoverlap")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    tl.commit_actions(d, [tl._write_with_add_action(
        orders, d, "A.parquet")])
    ckpt = str(tmp_path / "ovl_ckpt")
    em = str(tmp_path / "ovl_emissions")
    ivm_drain(spark, d, ckpt, em)
    # two OVERLAPPING positional deletes (k%6=0 rows are in both),
    # then an equality delete crossing both (k%4=0 overlaps k%2=0)
    tl.delete_positions_mor(spark, d, "o_orderkey % 2 = 0")
    ivm_drain(spark, d, ckpt, em)
    tl.delete_positions_mor(spark, d, "o_orderkey % 3 = 0")
    ivm_drain(spark, d, ckpt, em)
    keys = orders.filter("o_orderkey % 4 = 0").select("o_orderkey")
    tl.delete_keys_mor(spark, d, keys)
    ivm_drain(spark, d, ckpt, em)
    want = sorted(
        tl.snapshot_read_mor(spark, d)
        .groupBy("o_orderpriority")
        .agg(tl.F.count("*").cast("long").alias("n_orders"),
             tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
             .alias("sum_cents"))
        .collect())
    got = sorted(ivm_view(spark, em).collect())
    assert got == want and len(got) > 0
    # and materialization folds the overlapping state exactly once
    tl.materialize_deletes(spark, d)
    ivm_drain(spark, d, ckpt, em)
    assert sorted(ivm_view(spark, em).collect()) == want
    want_rows = orders.filter(
        "o_orderkey % 2 != 0 AND o_orderkey % 3 != 0").count()
    assert tl.snapshot_read(spark, d).count() == want_rows


def test_overlapping_keydels_retract_once_in_ivm(spark, tmp_path):
    """The keydel half of the overlap rule: two equality deletes
    with intersecting key sets (k%4=0 is inside k%2=0) must retract
    each row once in the maintained view."""
    from gemmsql.pipeline.tablelog import ivm_drain, ivm_view

    d = str(tmp_path / "kdoverlap")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    tl.commit_actions(d, [tl._write_with_add_action(
        orders, d, "A.parquet")])
    ckpt = str(tmp_path / "kdo_ckpt")
    em = str(tmp_path / "kdo_emissions")
    ivm_drain(spark, d, ckpt, em)
    tl.delete_keys_mor(
        spark, d, orders.filter("o_orderkey % 2 = 0")
        .select("o_orderkey"))
    ivm_drain(spark, d, ckpt, em)
    tl.delete_keys_mor(
        spark, d, orders.filter("o_orderkey % 4 = 0")
        .select("o_orderkey"))  # strictly inside the first delete
    ivm_drain(spark, d, ckpt, em)
    want = sorted(
        tl.snapshot_read_mor(spark, d)
        .groupBy("o_orderpriority")
        .agg(tl.F.count("*").cast("long").alias("n_orders"),
             tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
             .alias("sum_cents"))
        .collect())
    got = sorted(ivm_view(spark, em).collect())
    assert got == want and len(got) > 0


def test_compaction_time_travel(spark, tmp_path):
    """Time travel below a delete-file compaction reads through the
    ORIGINAL PD files (retired, not erased): the MOR view at the
    pre-compaction version equals the view after — compaction is
    change-free by construction — and the version below the second
    delete subtracts only the first."""
    d = str(tmp_path / "dvtt")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    tl.commit_actions(d, [tl._write_with_add_action(
        orders, d, "A.parquet")])                                # v0
    tl.delete_positions_mor(spark, d, "o_orderkey % 5 = 0")      # v1
    tl.delete_positions_mor(spark, d, "o_orderkey % 7 = 1")      # v2
    v_compact = tl.compact_delete_files(spark, d)                # v3
    assert v_compact == 3
    latest = sorted(tl.snapshot_read_mor(spark, d).collect())
    at_v2 = sorted(tl.snapshot_read_mor(spark, d, 2).collect())
    assert latest == at_v2  # change-free commit
    at_v1 = tl.snapshot_read_mor(spark, d, 1)
    assert at_v1.filter("o_orderkey % 5 = 0").count() == 0
    want_v1 = orders.filter("o_orderkey % 5 != 0").count()
    assert at_v1.count() == want_v1


def test_update_where_mor_equals_cow(spark, tmp_path):
    """DV-backed UPDATE (update_where_mor) lands posdel + one new
    file in ONE commit, zero rewrites — and must produce exactly the
    same table as the copy-on-write UPDATE, compose with a prior
    positional delete (already-dead rows never update), drain
    through the IVM, and refuse on live equality deletes."""
    from gemmsql.pipeline.tablelog import ivm_drain, ivm_view

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    dirs = {}
    for name in ("mor", "cow"):
        d = str(tmp_path / f"updmor_{name}")
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        tl.commit_actions(d, [tl._write_with_add_action(
            orders.filter("o_orderkey % 2 = 0"), d, "A.parquet")])
        tl.commit_actions(d, [tl._write_with_add_action(
            orders.filter("o_orderkey % 2 = 1"), d, "B.parquet")])
        dirs[name] = d
    pred = "o_orderkey % 9 = 2"
    sets = {"o_totalprice": "o_totalprice * 2 + 1"}
    dm = dirs["mor"]
    ckpt = str(tmp_path / "upd_ckpt")
    em = str(tmp_path / "upd_emissions")
    ivm_drain(spark, dm, ckpt, em)
    v0 = max(tl._present_versions(dm))
    v = tl.update_where_mor(spark, dm, pred, sets)
    assert v == v0 + 1, "posdel + add must be ONE commit"
    tl.update_where_cow(spark, dirs["cow"], pred, sets)
    got = sorted(tl.snapshot_read_mor(spark, dm).collect())
    want = sorted(tl.snapshot_read(spark, dirs["cow"]).collect())
    assert got == want and len(got) == orders.count()
    # ZERO data files rewritten: both original files still live
    live = {r["path"] for r in sr.snapshot_files(spark, dm).collect()}
    assert {"A.parquet", "B.parquet"} <= live
    # the IVM drains the commit as -old/+new
    ivm_drain(spark, dm, ckpt, em)
    want_view = sorted(
        tl.snapshot_read_mor(spark, dm)
        .groupBy("o_orderpriority")
        .agg(tl.F.count("*").cast("long").alias("n_orders"),
             tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
             .alias("sum_cents"))
        .collect())
    assert sorted(ivm_view(spark, em).collect()) == want_view
    # composes with a prior posdel: deleted rows never update
    tl.delete_positions_mor(spark, dm, "o_orderkey % 9 = 4")
    n_before = tl.snapshot_read_mor(spark, dm).count()
    tl.update_where_mor(
        spark, dm, "o_orderkey % 9 IN (4, 5)",
        {"o_totalprice": "0.0"})
    after = tl.snapshot_read_mor(spark, dm)
    assert after.count() == n_before  # nothing resurrected
    assert after.filter("o_orderkey % 9 = 4").count() == 0
    assert after.filter(
        "o_orderkey % 9 = 5 AND o_totalprice != 0.0").count() == 0
    # live equality deletes COMPOSE (r17, VERDICT r16 missing #3):
    # keydel-dead rows are never matched (nothing resurrects), live
    # rows update, and the appended file outranks the keydel by
    # sequence so the updated rows stay visible
    kd_keys = orders.filter("o_orderkey % 11 = 6").select("o_orderkey")
    tl.delete_keys_mor(spark, dm, kd_keys)
    n_live = tl.snapshot_read_mor(spark, dm).count()
    tl.update_where_mor(
        spark, dm, "o_orderkey % 11 IN (6, 7)",
        {"o_totalprice": "-5.0"})
    after2 = tl.snapshot_read_mor(spark, dm)
    assert after2.count() == n_live  # dead rows stay dead
    assert after2.join(kd_keys, "o_orderkey").count() == 0
    assert after2.filter(
        "o_orderkey % 11 = 7 AND o_totalprice != -5.0").count() == 0
    # a further update now runs with live files ABOVE the keydel's
    # sequence (the prior update's appended file) — the DML-side
    # exclusion takes the sequence-aware branch, original dead rows
    # stay excluded, everything else updates
    tl.update_where_mor(
        spark, dm, "o_orderkey % 11 IN (6, 8)",
        {"o_totalprice": "-6.0"})
    after3 = tl.snapshot_read_mor(spark, dm)
    assert after3.count() == n_live
    assert after3.join(kd_keys, "o_orderkey").count() == 0
    assert after3.filter(
        "o_orderkey % 11 = 8 AND o_totalprice != -6.0").count() == 0
    # no-match predicate refuses without burning a version
    d2 = dirs["cow"]
    v_before = max(tl._present_versions(d2))
    with pytest.raises(ValueError, match="matched no rows"):
        tl.update_where_mor(spark, d2, "o_orderkey < 0",
                            {"o_totalprice": "1.0"})
    assert max(tl._present_versions(d2)) == v_before


def test_update_where_mor_under_mapping(spark, tmp_path):
    """The DV-backed UPDATE speaks LOGICAL names on a mapped table
    and its appended file lands under frozen physical names."""
    d = str(tmp_path / "updmormap")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    tl.append_mapped(spark, d, orders, "A.parquet")
    tl.rename_column(spark, d, "o_totalprice", "price")
    tl.update_where_mor(
        spark, d, "o_orderkey % 13 = 3", {"price": "price + 1000000"})
    got = tl.snapshot_read_mor_mapped(spark, d)
    assert "price" in got.columns
    n = orders.filter("o_orderkey % 13 = 3").count()
    assert got.filter("price > 900000").count() == n > 0
    assert got.count() == orders.count()


def test_merge_table_mor_equals_cow(spark, tmp_path):
    """DV-backed MERGE: posdel of the matched target rows + ONE file
    of all source rows, zero rewrites — same table as the CoW MERGE,
    IVM-drainable, keydel-composing, duplicate-source-refusing."""
    from gemmsql.pipeline.tablelog import ivm_drain, ivm_view

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    dirs = {}
    for name in ("mor", "cow"):
        d = str(tmp_path / f"mrgmor_{name}")
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        tl.commit_actions(d, [tl._write_with_add_action(
            orders.filter("o_orderkey % 2 = 0"), d, "A.parquet")])
        tl.commit_actions(d, [tl._write_with_add_action(
            orders.filter("o_orderkey % 2 = 1"), d, "B.parquet")])
        dirs[name] = d
    # source: updates for % 9 = 2 keys plus brand-new keys
    src = orders.filter("o_orderkey % 9 = 2").withColumn(
        "o_totalprice", tl.F.col("o_totalprice") * 3).unionByName(
        orders.filter("o_orderkey % 9 = 5").withColumn(
            "o_orderkey", tl.F.col("o_orderkey") + 50_000_000))
    dm = dirs["mor"]
    ckpt = str(tmp_path / "mrg_ckpt")
    em = str(tmp_path / "mrg_emissions")
    ivm_drain(spark, dm, ckpt, em)
    v0 = max(tl._present_versions(dm))
    v = tl.merge_table_mor(spark, dm, src)
    assert v == v0 + 1, "posdel + add must be ONE commit"
    tl.merge_table(spark, dirs["cow"], src)
    got = sorted(tl.snapshot_read_mor(spark, dm).collect())
    want = sorted(tl.snapshot_read(spark, dirs["cow"]).collect())
    assert got == want and len(got) > orders.count()
    # zero rewrites: both original files still live
    live = {r["path"] for r in sr.snapshot_files(spark, dm).collect()}
    assert {"A.parquet", "B.parquet"} <= live
    # IVM parity across the merge commit
    ivm_drain(spark, dm, ckpt, em)
    want_view = sorted(
        tl.snapshot_read_mor(spark, dm)
        .groupBy("o_orderpriority")
        .agg(tl.F.count("*").cast("long").alias("n_orders"),
             tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
             .alias("sum_cents"))
        .collect())
    assert sorted(ivm_view(spark, em).collect()) == want_view
    # a second DV merge composes with the first's posdel state
    src2 = orders.filter("o_orderkey % 9 = 2").withColumn(
        "o_totalprice", tl.F.lit(7.0))
    tl.merge_table_mor(spark, dm, src2)
    after = tl.snapshot_read_mor(spark, dm)
    assert after.count() == len(got)
    assert after.filter(
        "o_orderkey % 9 = 2 AND o_orderkey < 50000000 "
        "AND o_totalprice != 7.0").count() == 0
    # duplicate source keys refuse
    with pytest.raises(ValueError, match="duplicate keys"):
        tl.merge_table_mor(spark, dm, src2.unionByName(src2))
    # live equality deletes COMPOSE (r17, VERDICT r16 missing #3):
    # a keydel-dead target row is an INSERT slot — the merge re-adds
    # its key at a higher sequence — while live matched rows die
    # once in the DV; non-source dead rows stay dead
    kd_keys = orders.filter("o_orderkey % 11 = 1").select("o_orderkey")
    tl.delete_keys_mor(spark, dm, kd_keys)
    n_live = tl.snapshot_read_mor(spark, dm).count()
    src3 = orders.filter("o_orderkey % 9 = 2").withColumn(
        "o_totalprice", tl.F.lit(9.0))
    n_dead_in_src = src3.join(kd_keys, "o_orderkey").count()
    assert n_dead_in_src > 0  # the composition is actually exercised
    tl.merge_table_mor(spark, dm, src3)
    after2 = tl.snapshot_read_mor(spark, dm)
    assert after2.filter(
        "o_orderkey % 9 = 2 AND o_orderkey < 50000000 "
        "AND o_totalprice != 9.0").count() == 0
    # every source key visible exactly once
    assert after2.join(
        src3.select("o_orderkey"), "o_orderkey").count() == src3.count()
    # keydel-dead rows outside the source stay dead
    assert after2.join(kd_keys, "o_orderkey").join(
        src3.select("o_orderkey"), "o_orderkey", "left_anti"
    ).count() == 0
    assert after2.count() == n_live + n_dead_in_src


def test_restore_over_overlapping_deletes_in_ivm(spark, tmp_path):
    """RESTORE composed with OVERLAPPING delete state (the r17
    pointer, taken early): rolling back past a delete retires it
    (inverse baseline — rows still covered by the surviving delete
    must NOT resurrect), and restoring forward re-emits it (new
    baseline — rows already dead must not double-retract).  The
    maintained view must equal the batch MOR recompute after every
    drain."""
    from gemmsql.pipeline.tablelog import (
        ivm_drain,
        ivm_view,
        restore_table,
    )

    d = str(tmp_path / "restovl")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    tl.commit_actions(d, [tl._write_with_add_action(
        orders, d, "A.parquet")])                                # v0
    ckpt = str(tmp_path / "ro_ckpt")
    em = str(tmp_path / "ro_emissions")

    def _check():
        ivm_drain(spark, d, ckpt, em)
        want = sorted(
            tl.snapshot_read_mor(spark, d)
            .groupBy("o_orderpriority")
            .agg(tl.F.count("*").cast("long").alias("n_orders"),
                 tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                 .alias("sum_cents"))
            .collect())
        got = sorted(ivm_view(spark, em).collect())
        assert got == want and len(got) > 0

    _check()                                                     # v0
    tl.delete_positions_mor(spark, d, "o_orderkey % 2 = 0")      # v1
    _check()
    tl.delete_positions_mor(spark, d, "o_orderkey % 3 = 0")      # v2
    _check()
    # roll back past the SECOND delete: its retirement must not
    # resurrect the k%6=0 overlap rows the first delete still kills
    restore_table(spark, d, 1)                                   # v3
    _check()
    n_after_back = tl.snapshot_read_mor(spark, d).count()
    assert n_after_back == orders.filter("o_orderkey % 2 != 0").count()
    # restore FORWARD to the both-deletes state: the re-emitted
    # posdel must not double-retract the already-dead overlap
    restore_table(spark, d, 2)                                   # v4
    _check()
    assert tl.snapshot_read_mor(spark, d).count() == orders.filter(
        "o_orderkey % 2 != 0 AND o_orderkey % 3 != 0").count()


def test_clone_and_vacuum_compose_with_dv_state(spark, tmp_path):
    """CLONE carries live deletion vectors (the cloned MOR view
    equals the source's), and VACUUM reclaims compaction-retired PD
    files while the merged DV keeps subtracting."""
    from gemmsql.pipeline.tablelog import (
        clone_table,
        vacuum_plan,
        vacuum_table,
    )
    from tests.spark_replay import snapshot_delete_files

    d = str(tmp_path / "dvclone_src")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    tl.commit_actions(d, [tl._write_with_add_action(
        orders, d, "A.parquet")])
    tl.delete_positions_mor(spark, d, "o_orderkey % 4 = 1")
    tl.delete_positions_mor(spark, d, "o_orderkey % 4 = 2")
    want = sorted(tl.snapshot_read_mor(spark, d).collect())
    # CLONE: the new table's MOR view equals the source's
    dest = str(tmp_path / "dvclone_dst")
    clone_table(spark, d, dest)
    got = sorted(tl.snapshot_read_mor(spark, dest).collect())
    assert got == want and len(got) > 0
    # compaction retires the two PD files; vacuum reclaims them
    tl.compact_delete_files(spark, d)
    plan = {r["path"] for r in vacuum_plan(spark, d).collect()}
    retired = {"PD1.parquet", "PD2.parquet"}
    assert retired <= plan, (retired, plan)
    deleted = set(vacuum_table(spark, d))
    assert retired <= deleted
    # the merged DV still subtracts; the clone (its own hard links)
    # is untouched by the source's vacuum
    assert sorted(tl.snapshot_read_mor(spark, d).collect()) == want
    assert sorted(tl.snapshot_read_mor(spark, dest).collect()) == want


def test_large_dml_commit_spreads_across_files(
    spark, tmp_path, monkeypatch
):
    """VERDICT r16 wrong #2: a DV-DML commit whose appended rows
    exceed the per-file cap lands MULTIPLE add actions in the same
    atomic commit (one parallel range-partitioned write job, no
    coalesce(1) single-task funnel), with per-file key-range stats
    tight and disjoint-ish, and the MOR view identical to the
    single-file result.  Fixture-scale commits (cap untouched) stay
    single-file with the exact legacy name."""
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    monkeypatch.setattr(tl, "DML_MAX_ROWS_PER_FILE", 100)
    d = str(tmp_path / "dmlspread")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.commit_actions(d, [tl._write_with_add_action(
        orders, d, "A.parquet")])
    pred = "o_orderkey % 2 = 0"
    n_hit = orders.filter(pred).count()
    assert n_hit > 200  # several files' worth under the tiny cap
    v = tl.update_where_mor(
        spark, d, pred, {"o_totalprice": "o_totalprice + 1"})
    acts = [json.loads(ln) for ln in open(os.path.join(
        d, tl.LOG_SUBDIR, f"{v:08d}.json")) if ln.strip()]
    adds = [a for a in acts if a["a"] == "add"]
    assert len(adds) > 1, adds  # the commit spread its rewrite
    assert sum(a["n_rows"] for a in adds) == n_hit
    # per-file ranges are ordered and stats are present
    ordered = sorted(adds, key=lambda a: a["path"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["min_key"] <= a["max_key"] <= b["min_key"], (a, b)
    # the view equals the plain recompute
    got = sorted(tl.snapshot_read_mor(spark, d).collect())
    want = sorted(orders.withColumn(
        "o_totalprice",
        tl.F.when(tl.F.expr(pred),
                  tl.F.col("o_totalprice") + 1)
        .otherwise(tl.F.col("o_totalprice"))).collect())
    assert got == want
    # a MERGE source beyond the cap spreads too
    src = orders.filter("o_orderkey % 3 = 0").withColumn(
        "o_totalprice", tl.F.lit(5.0))
    v2 = tl.merge_table_mor(spark, d, src)
    acts2 = [json.loads(ln) for ln in open(os.path.join(
        d, tl.LOG_SUBDIR, f"{v2:08d}.json")) if ln.strip()]
    adds2 = [a for a in acts2 if a["a"] == "add"]
    assert len(adds2) > 1
    assert sum(a["n_rows"] for a in adds2) == src.count()
    after = tl.snapshot_read_mor(spark, d)
    assert after.count() == orders.count()
    assert after.filter(
        "o_orderkey % 3 = 0 AND o_totalprice != 5.0").count() == 0


def test_dv_dml_interleaving_property_vs_model(spark, tmp_path):
    """VERDICT r16 next #6: a random interleaving of the whole
    DV-tier verb set — appends (fresh AND re-added keys),
    positional deletes, equality deletes, DV-UPDATE, DV-MERGE,
    delete-file compaction, materialization, RESTORE — checked
    against a row-multiset model after EVERY op, then the streaming
    IVM drains the full history once and must equal the batch MOR
    recompute (the r16 overlap bug lived exactly in an interleaving
    no example test had tried).  Derandomized example set, same
    discipline as test_partition_rename_property_vs_model; six
    randomized exploration runs (GEMMSQL_PROP_EXPLORE=1) ran clean
    before the set froze."""
    from hypothesis import given, settings, strategies as st

    EXPLORE = os.environ.get("GEMMSQL_PROP_EXPLORE") == "1"

    ops = st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(0, 1)),
            st.tuples(st.just("posdel"), st.integers(0, 4)),
            st.tuples(st.just("keydel"), st.integers(0, 4)),
            st.tuples(st.just("update"), st.integers(0, 6)),
            st.tuples(st.just("merge"), st.integers(0, 5)),
            st.just(("compact",)),
            st.just(("materialize",)),
            st.tuples(st.just("restore"), st.integers(0, 9)),
        ),
        min_size=3, max_size=8,
    )

    counter = {"n": 0}

    @settings(max_examples=6, deadline=None, derandomize=not EXPLORE)
    @given(seq=ops)
    def check(seq):
        counter["n"] += 1
        d = str(tmp_path / f"propdv{counter['n']}")
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        kbase = counter["n"] * 1_000_000

        def _rows_df(rows):
            return spark.createDataFrame(
                [(k, p, x) for (k, p, x) in rows],
                "o_orderkey bigint, o_orderpriority string, "
                "o_totalprice double",
            )

        # model: MULTISET of live rows (duplicate keys are legal)
        model: list[tuple[int, str, float]] = []
        seed = [(kbase + j, f"P{j % 3}", float(j % 7))
                for j in range(12)]
        v = tl.commit_actions(d, [tl._write_with_add_action(
            _rows_df(seed), d, "SEED.parquet")])
        model.extend(seed)
        history = [(v, list(model))]

        for i, op in enumerate(seq):
            kind = op[0]
            try:
                if kind == "append":
                    if op[1] == 0 or not model:  # fresh keys
                        rows = [(kbase + 100 * (i + 1) + j,
                                 f"P{j % 3}", float(j % 5))
                                for j in range(5)]
                    else:  # RE-ADD existing keys (sequence-rule food)
                        ks = sorted({r[0] for r in model})[:3]
                        rows = [(k, "PR", 9.0) for k in ks]
                    v = tl.commit_actions(
                        d, [tl._write_with_add_action(
                            _rows_df(rows), d, f"A{i}.parquet")])
                    model.extend(rows)
                elif kind == "posdel":
                    r = op[1]
                    v = tl.delete_positions_mor(
                        spark, d, f"o_orderkey % 5 = {r}")
                    model = [row for row in model
                             if row[0] % 5 != r]
                elif kind == "keydel":
                    r = op[1]
                    ks = sorted({row[0] for row in model
                                 if row[0] % 5 == r})
                    if not ks:
                        continue
                    v = tl.delete_keys_mor(
                        spark, d,
                        spark.createDataFrame(
                            [(k,) for k in ks], "o_orderkey bigint"))
                    model = [row for row in model
                             if row[0] not in set(ks)]
                elif kind == "update":
                    r = op[1]
                    v = tl.update_where_mor(
                        spark, d, f"o_orderkey % 7 = {r}",
                        {"o_totalprice": "o_totalprice + 1"})
                    model = [
                        (k, p, x + 1) if k % 7 == r else (k, p, x)
                        for (k, p, x) in model
                    ]
                elif kind == "merge":
                    r = op[1]
                    ks = sorted({row[0] for row in model
                                 if row[0] % 6 == r})[:4]
                    ks += [kbase + 500_000 + 10 * i,
                           kbase + 500_000 + 10 * i + 1]
                    src = [(k, "PM", float(50 + k % 3)) for k in ks]
                    v = tl.merge_table_mor(spark, d, _rows_df(src))
                    kset = set(ks)
                    model = [row for row in model
                             if row[0] not in kset] + src
                elif kind == "compact":
                    v = tl.compact_delete_files(spark, d)
                elif kind == "materialize":
                    v = tl.materialize_deletes(spark, d)
                else:  # restore
                    tv, snap = history[op[1] % len(history)]
                    v = tl.restore_table(spark, d, tv)
                    model = list(snap)
            except ValueError:
                continue  # loud refusal == no-op; model unchanged
            history.append((v, list(model)))
            got = sorted(
                tuple(r) for r in
                tl.snapshot_read_mor(spark, d).collect())
            assert got == sorted(model), (seq, i, kind)
        # the full history through the streaming IVM once: the
        # maintained view must equal the batch recompute
        ckpt = str(tmp_path / f"propdv_ck{counter['n']}")
        em = str(tmp_path / f"propdv_em{counter['n']}")
        tl.ivm_drain(spark, d, ckpt, em)
        got_view = sorted(
            tuple(r) for r in tl.ivm_view(spark, em).collect())
        want_view = sorted(
            tuple(r) for r in tl.snapshot_read_mor(spark, d)
            .groupBy("o_orderpriority")
            .agg(tl.F.count("*").cast("long").alias("n_orders"),
                 tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                 .alias("sum_cents"))
            .collect())
        assert got_view == want_view, seq

    check()


def test_dv_dml_on_partitioned_table_routes_partitions(spark, tmp_path):
    """r17: on a PARTITIONED table, DV-DML appends route one file per
    touched partition value with ``part`` metadata recorded — the
    rewrite stays pruning-precise instead of decaying into
    never-pruned candidates.  An UPDATE that ASSIGNS the spec column
    records the NEW partition (rows move partitions); MERGE inserts
    land routed too."""
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    d = str(tmp_path / "dvpart")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["o_orderpriority"])
    tl.append_partitioned(spark, d, orders, "A")
    prios = [r[0] for r in orders.select("o_orderpriority")
             .distinct().collect()]
    # DV-UPDATE touching every partition
    v = tl.update_where_mor(
        spark, d, "o_orderkey % 4 = 1",
        {"o_totalprice": "o_totalprice + 1"})
    acts = [json.loads(ln) for ln in open(os.path.join(
        d, tl.LOG_SUBDIR, f"{v:08d}.json")) if ln.strip()]
    adds = [a for a in acts if a["a"] == "add"]
    assert len(adds) == len(prios)  # one routed file per partition
    assert all(a.get("part") for a in adds), adds
    # pruned read per partition equals the recompute — and the scan
    # lists ONLY that partition's files (base + its one DML file)
    for p in prios:
        got = tl.partition_pruned_read(spark, d, {"o_orderpriority": p})
        want = orders.filter(tl.F.col("o_orderpriority") == p)
        assert got.count() == want.count()
        cand = tl.partition_candidate_files(
            spark, d, {"o_orderpriority": p})
        assert len(cand) == 2, [r["path"] for r in cand]
    # the MOR view matches the plain recompute
    want_sum = orders.withColumn(
        "o_totalprice",
        tl.F.when(tl.F.col("o_orderkey") % 4 == 1,
                  tl.F.col("o_totalprice") + 1)
        .otherwise(tl.F.col("o_totalprice")))
    assert sorted(tl.snapshot_read_mor(spark, d).collect()) == \
        sorted(want_sum.collect())
    # an UPDATE that ASSIGNS the spec column moves rows: the new
    # partition's file records the NEW value and pruning finds it
    n_moved = tl.snapshot_read_mor(spark, d)\
        .filter("o_orderkey % 4 = 2").count()
    tl.update_where_mor(
        spark, d, "o_orderkey % 4 = 2",
        {"o_orderpriority": "'MOVED'"})
    got_moved = tl.partition_pruned_read(
        spark, d, {"o_orderpriority": "MOVED"})
    assert got_moved.count() == n_moved > 0
    for p in prios:
        got = tl.partition_pruned_read(spark, d, {"o_orderpriority": p})
        want = want_sum.filter(
            (tl.F.col("o_orderpriority") == p)
            & (tl.F.col("o_orderkey") % 4 != 2))
        assert got.count() == want.count(), p
    # MERGE inserts route into their partitions as well
    src = tl.snapshot_read_mor(spark, d).filter("o_orderkey % 9 = 4")\
        .withColumn("o_totalprice", tl.F.lit(7.0)).unionByName(
            orders.filter("o_orderkey % 9 = 1").select(
                (tl.F.col("o_orderkey") + 70_000_000)
                .alias("o_orderkey"),
                tl.F.lit("NEWPART").alias("o_orderpriority"),
                tl.F.lit(3.0).alias("o_totalprice")))
    v2 = tl.merge_table_mor(spark, d, src)
    acts2 = [json.loads(ln) for ln in open(os.path.join(
        d, tl.LOG_SUBDIR, f"{v2:08d}.json")) if ln.strip()]
    adds2 = [a for a in acts2 if a["a"] == "add"]
    assert all(a.get("part") for a in adds2), adds2
    got_new = tl.partition_pruned_read(
        spark, d, {"o_orderpriority": "NEWPART"})
    n_ins = orders.filter("o_orderkey % 9 = 1").count()
    assert got_new.count() == n_ins > 0


def test_partitioned_dv_dml_interleaving_vs_model(spark, tmp_path):
    """The partitioned twin of the DV-DML interleaving suite (r17):
    the same verb set on a table with spec ``o_orderpriority`` —
    partitioned appends, DV-DML whose rewrites route per partition
    (including partition-MOVING updates that assign the spec
    column), keydels, compaction, materialization, RESTORE — checked
    against the row-multiset model after every op BOTH through
    ``snapshot_read_mor`` and through per-partition
    ``partition_pruned_read`` (which must prune AND subtract the
    live delete state — the r17 resurrection fix).  Derandomized
    example set; six randomized exploration runs
    (GEMMSQL_PROP_EXPLORE=1) ran clean before the set froze."""
    from hypothesis import given, settings, strategies as st

    EXPLORE = os.environ.get("GEMMSQL_PROP_EXPLORE") == "1"

    ops = st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(0, 2)),
            st.tuples(st.just("posdel"), st.integers(0, 4)),
            st.tuples(st.just("keydel"), st.integers(0, 4)),
            st.tuples(st.just("update"), st.integers(0, 6)),
            st.tuples(st.just("move"), st.integers(0, 4)),
            st.tuples(st.just("merge"), st.integers(0, 5)),
            st.just(("compact",)),
            st.just(("materialize",)),
            st.tuples(st.just("restore"), st.integers(0, 9)),
        ),
        min_size=3, max_size=7,
    )

    counter = {"n": 0}

    @settings(max_examples=5, deadline=None, derandomize=not EXPLORE)
    @given(seq=ops)
    def check(seq):
        counter["n"] += 1
        d = str(tmp_path / f"proppdv{counter['n']}")
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        kbase = counter["n"] * 1_000_000

        def _rows_df(rows):
            return spark.createDataFrame(
                rows,
                "o_orderkey bigint, o_orderpriority string, "
                "o_totalprice double",
            )

        tl.set_partition_spec(d, ["o_orderpriority"])
        model: list[tuple[int, str, float]] = []
        seed = [(kbase + j, f"P{j % 3}", float(j % 7))
                for j in range(12)]
        v = tl.append_partitioned(spark, d, _rows_df(seed), "SEED")
        model.extend(seed)
        history = [(v, list(model))]

        for i, op in enumerate(seq):
            kind = op[0]
            try:
                if kind == "append":
                    rows = [(kbase + 100 * (i + 1) + j,
                             f"P{(j + op[1]) % 3}", float(j % 5))
                            for j in range(5)]
                    v = tl.append_partitioned(
                        spark, d, _rows_df(rows), f"A{i}")
                    model.extend(rows)
                elif kind == "posdel":
                    r = op[1]
                    v = tl.delete_positions_mor(
                        spark, d, f"o_orderkey % 5 = {r}")
                    model = [row for row in model if row[0] % 5 != r]
                elif kind == "keydel":
                    r = op[1]
                    ks = sorted({row[0] for row in model
                                 if row[0] % 5 == r})
                    if not ks:
                        continue
                    v = tl.delete_keys_mor(
                        spark, d,
                        spark.createDataFrame(
                            [(k,) for k in ks], "o_orderkey bigint"))
                    model = [row for row in model
                             if row[0] not in set(ks)]
                elif kind == "update":
                    r = op[1]
                    v = tl.update_where_mor(
                        spark, d, f"o_orderkey % 7 = {r}",
                        {"o_totalprice": "o_totalprice + 1"})
                    model = [
                        (k, p, x + 1) if k % 7 == r else (k, p, x)
                        for (k, p, x) in model
                    ]
                elif kind == "move":
                    # the partition-MOVING update: assigns the spec
                    # column, rows change partitions
                    r = op[1]
                    v = tl.update_where_mor(
                        spark, d, f"o_orderkey % 6 = {r}",
                        {"o_orderpriority": f"'PX{r}'"})
                    model = [
                        (k, f"PX{r}", x) if k % 6 == r else (k, p, x)
                        for (k, p, x) in model
                    ]
                elif kind == "merge":
                    r = op[1]
                    ks = sorted({row[0] for row in model
                                 if row[0] % 6 == r})[:4]
                    ks += [kbase + 500_000 + 10 * i]
                    src = [(k, "PM", float(50 + k % 3)) for k in ks]
                    v = tl.merge_table_mor(spark, d, _rows_df(src))
                    kset = set(ks)
                    model = [row for row in model
                             if row[0] not in kset] + src
                elif kind == "compact":
                    v = tl.compact_delete_files(spark, d)
                elif kind == "materialize":
                    v = tl.materialize_deletes(spark, d)
                else:  # restore
                    tv, snap = history[op[1] % len(history)]
                    v = tl.restore_table(spark, d, tv)
                    model = list(snap)
            except ValueError:
                continue  # loud refusal == no-op; model unchanged
            history.append((v, list(model)))
            got = sorted(
                tuple(r) for r in
                tl.snapshot_read_mor(spark, d).collect())
            assert got == sorted(model), (seq, i, kind)
            # every partition's PRUNED read agrees too (prune +
            # subtract compose)
            for val in sorted({p for (_, p, _) in model}):
                gotp = sorted(
                    tuple(r) for r in tl.partition_pruned_read(
                        spark, d, {"o_orderpriority": val}).collect())
                want = sorted(row for row in model if row[1] == val)
                assert gotp == want, (seq, i, kind, val)

    check()
