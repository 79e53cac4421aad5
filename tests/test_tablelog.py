"""Table-format transaction log: replay semantics, checkpoints,
skipping invariants (`gemmsql/pipeline/tablelog.py`).

The three gate ops' full Spark-vs-DuckDB hash parity runs in
tests/test_rotation.py; this file pins the pieces parity alone can't
see — the replay edge rules on synthetic logs, checkpoint-vs-full
replay equality, the planner's candidate=0 ⟹ matches=0 trust
invariant, and the staged fixture's lifecycle shape.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from tests.conftest import SF_SMOKE

from gemmsql.pipeline import tablelog as tl
from tests import spark_replay as sr


def _mklog(tmp_path, commits):
    """Materialize a synthetic table dir with only a log."""
    d = tmp_path / "tbl"
    (d / tl.LOG_SUBDIR).mkdir(parents=True)
    (d / tl.DATA_SUBDIR).mkdir()
    for v, lines in commits.items():
        path = d / tl.LOG_SUBDIR / f"{v:08d}.json"
        path.write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    return str(d)


def _add(v, path, rows=1):
    return {"v": v, "a": "add", "path": path, "n_rows": rows,
            "n_bytes": 10, "min_key": 0, "max_key": 9,
            "min_date": "1992-01-01", "max_date": "1998-08-02"}


def _rm(v, path):
    return {"v": v, "a": "remove", "path": path}


def _live(spark, d, version=None):
    return sorted(
        r["path"] for r in sr.snapshot_files(spark, d, version).collect()
    )


def test_replay_remove_then_readd_restores(spark, tmp_path):
    d = _mklog(tmp_path, {
        0: [_add(0, "f.parquet")],
        1: [_rm(1, "f.parquet")],
        2: [_add(2, "f.parquet")],
    })
    assert _live(spark, d, 0) == ["f.parquet"]
    assert _live(spark, d, 1) == []
    assert _live(spark, d, 2) == ["f.parquet"]
    assert _live(spark, d) == ["f.parquet"]


def test_replay_same_version_remove_beats_add(spark, tmp_path):
    # the documented tiebreak: add+remove of one path inside a single
    # commit resolves to remove, deterministically, on both engines
    d = _mklog(tmp_path, {
        0: [_add(0, "f.parquet")],
        1: [_add(1, "f.parquet"), _rm(1, "f.parquet")],
    })
    assert _live(spark, d, 0) == ["f.parquet"]
    assert _live(spark, d, 1) == []


def test_history_audit_readd_lifecycle(spark, tmp_path):
    # ADVICE r12 #1: a remove-then-re-add path must NOT duplicate
    # action rows, and each remove must count the rows of the LATEST
    # add at-or-below it (10 at v1, 7 at v3 — not 10+7 at both)
    d = _mklog(tmp_path, {
        0: [_add(0, "f.parquet", rows=10)],
        1: [_rm(1, "f.parquet")],
        2: [_add(2, "f.parquet", rows=7)],
        3: [_rm(3, "f.parquet")],
    })
    hist = {r["version"]: r for r in
            tl.table_history_audit_dir(spark, d).collect()}
    assert len(hist) == 4
    assert (hist[0]["rows_added"], hist[0]["rows_removed"]) == (10, 0)
    assert (hist[1]["rows_added"], hist[1]["rows_removed"]) == (0, 10)
    assert (hist[2]["rows_added"], hist[2]["rows_removed"]) == (7, 0)
    assert (hist[3]["rows_added"], hist[3]["rows_removed"]) == (0, 7)
    assert [hist[v]["live_rows"] for v in range(4)] == [10, 0, 7, 0]
    assert all(hist[v]["n_add"] + hist[v]["n_remove"] == 1 for v in range(4))
    # the streaming ledger (interval-join lookup) agrees per version
    stream = {r["version"]: r for r in
              tl.streaming_tablelog_gate_dir(spark, d).collect()}
    for v in range(4):
        for c in ("n_add", "n_remove", "rows_added", "rows_removed"):
            assert stream[v][c] == hist[v][c], (v, c)


def test_vacuum_plan_readd_single_row(spark, tmp_path):
    # a twice-added dead path yields ONE plan row with the LATEST
    # byte size (ADVICE r12 #1's vacuum corollary)
    big = dict(_add(2, "f.parquet"), n_bytes=20)
    d = _mklog(tmp_path, {
        0: [_add(0, "f.parquet"), _add(0, "keep.parquet")],
        1: [_rm(1, "f.parquet")],
        2: [big],
        3: [_rm(3, "f.parquet")],
    })
    plan = tl.vacuum_plan(spark, d).collect()
    assert [(r["path"], r["reclaim_bytes"]) for r in plan] == [
        ("f.parquet", 20)
    ]


def test_optimize_skips_empty_buckets(spark, tmp_path):
    # ADVICE r12 #2: a key distribution that leaves an optimize
    # bucket empty must skip the bucket (no crash, no empty data
    # file, no add action for it)
    rows = [(k, "O", 10.0 + k, "1995-01-01", "1-URGENT")
            for k in list(range(10)) + list(range(990, 1000))]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderstatus string, o_totalprice double,"
        " o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", tl.F.col("o_orderdate").cast("date"))
    d = _mklog(tmp_path, {})
    lo = df.filter("o_orderkey < 500")
    hi = df.filter("o_orderkey >= 500")
    for name, part in (("lo", lo), ("hi", hi)):
        tl._write_one_file(
            part, os.path.join(d, tl.DATA_SUBDIR, f"{name}.parquet"))
    tl.commit_actions(d, [
        {"a": "add", "path": "lo.parquet", "n_rows": 10, "n_bytes": 1,
         "min_key": 0, "max_key": 9,
         "min_date": "1995-01-01", "max_date": "1995-01-01"},
        {"a": "add", "path": "hi.parquet", "n_rows": 10, "n_bytes": 1,
         "min_key": 990, "max_key": 999,
         "min_date": "1995-01-01", "max_date": "1995-01-01"},
    ])
    dest = str(tmp_path / "opt")
    tl.optimize_table(spark, d, dest, n_files=4)  # middle buckets empty
    live = _live(spark, dest)
    assert live == ["OPT1-0.parquet", "OPT1-3.parquet"]
    assert tl.snapshot_read(spark, dest).count() == 20
    assert tl.version_diff_dir(spark, dest, 0, 1).count() == 0


def test_replay_version_bound_filters_later_commits(spark, tmp_path):
    d = _mklog(tmp_path, {
        0: [_add(0, "a.parquet")],
        1: [_add(1, "b.parquet")],
        2: [_rm(2, "a.parquet")],
    })
    assert _live(spark, d, 0) == ["a.parquet"]
    assert _live(spark, d, 1) == ["a.parquet", "b.parquet"]
    assert _live(spark, d, 2) == ["b.parquet"]


def test_fixture_lifecycle_live_sets(spark):
    d = tl.stage_versioned_table(spark, SF_SMOKE)
    assert _live(spark, d, 0) == sorted(
        f"A{i}.parquet" for i in range(4))
    assert _live(spark, d, 1) == sorted(
        [f"A{i}.parquet" for i in range(4)] + ["B0.parquet", "B1.parquet"])
    assert _live(spark, d, 2) == sorted(
        ["A2.parquet", "A3.parquet", "B0.parquet", "B1.parquet",
         "C0.parquet"])
    assert _live(spark, d, 3) == sorted(
        ["A2.parquet", "A3.parquet", "B1.parquet", "C0.parquet",
         "D0.parquet", "E0.parquet"])


def test_fixture_compaction_preserves_rows_delete_drops_them(spark):
    d = tl.stage_versioned_table(spark, SF_SMOKE)
    hist = {r["version"]: r for r in
            tl.table_history_audit(spark, SF_SMOKE).collect()}
    # v2 compaction: rows added == rows removed (pure rewrite)
    assert hist[2]["rows_added"] == hist[2]["rows_removed"]
    assert hist[2]["n_add"] == 1 and hist[2]["n_remove"] == 2
    # v3 delete: strictly fewer rows come back than go (D0 < B0),
    # net of the concurrent E0 append
    snap = {r["path"]: r["n_rows"] for r in
            sr.snapshot_files(spark, d).collect()}
    log = {r["path"]: r["n_rows"] for r in
           tl.read_log(spark, d).filter("a = 'add'").collect()}
    assert snap["D0.parquet"] < log["B0.parquet"]
    # running totals are consistent with the final snapshot
    assert hist[3]["live_files"] == len(snap)
    assert hist[3]["live_rows"] == sum(snap.values())


def test_checkpoint_replay_equals_full_replay(spark):
    d = tl.stage_versioned_table(spark, SF_SMOKE)
    ck = None
    try:
        ck = tl.write_checkpoint(spark, d, 2)
        for v in (2, 3, None):
            full = sorted(map(tuple, sr.snapshot_files(spark, d, v).collect()))
            fast = sorted(map(tuple, sr.snapshot_files(
                spark, d, v, from_checkpoint=True).collect()))
            assert full == fast, f"version {v}"
        # a checkpoint AFTER the asked-for version must not be used
        before = sorted(map(tuple, sr.snapshot_files(
            spark, d, 1, from_checkpoint=True).collect()))
        plain = sorted(map(tuple, sr.snapshot_files(spark, d, 1).collect()))
        assert before == plain
    finally:
        if ck:
            shutil.rmtree(ck, ignore_errors=True)


def test_skipping_candidate_zero_implies_zero_matches(spark):
    rows = tl.stats_skipping_audit(spark, SF_SMOKE).collect()
    assert any(r["candidate"] == 0 for r in rows), "no skip exercised"
    assert any(r["candidate"] == 1 and r["n_matches"] > 0 for r in rows)
    for r in rows:
        if r["candidate"] == 0:
            assert r["n_matches"] == 0, r["path"]


def test_vacuum_plan_is_exactly_the_dead_files(spark):
    d = tl.stage_versioned_table(spark, SF_SMOKE)
    got = sorted(r["path"] for r in tl.vacuum_plan(spark, d).collect())
    assert got == ["A0.parquet", "A1.parquet", "B0.parquet"]
    # every planned path really exists on disk (time travel kept it)
    for p in got:
        assert os.path.exists(os.path.join(d, tl.DATA_SUBDIR, p))


def test_time_travel_version_rowcounts_match_live_stats(spark):
    d = tl.stage_versioned_table(spark, SF_SMOKE)
    ttr = tl.time_travel_read(spark, SF_SMOKE).collect()
    by_v = {}
    for r in ttr:
        by_v[r["version"]] = by_v.get(r["version"], 0) + r["n_orders"]
    for v in range(4):
        stat_rows = sum(
            r["n_rows"] for r in sr.snapshot_files(spark, d, v).collect()
        )
        assert by_v[v] == stat_rows, f"version {v}"


def test_version_diff_compaction_window_is_empty(spark):
    # v1 -> v2 is the pure compaction commit: C0 re-sorts A0 ∪ A1,
    # so the logical diff must be EMPTY even though three files
    # changed hands
    assert tl.version_diff(spark, SF_SMOKE, 1, 2).count() == 0


def test_version_diff_delete_and_append(spark):
    d = tl.stage_versioned_table(spark, SF_SMOKE)
    rows = tl.version_diff(spark, SF_SMOKE, 2, 3).collect()
    deletes = {r["o_orderkey"] for r in rows if r["change"] == "delete"}
    inserts = {r["o_orderkey"] for r in rows if r["change"] == "insert"}
    b0 = spark.read.parquet(os.path.join(d, tl.DATA_SUBDIR, "B0.parquet"))
    e0 = spark.read.parquet(os.path.join(d, tl.DATA_SUBDIR, "E0.parquet"))
    want_del = {r["o_orderkey"] for r in
                b0.filter("o_orderstatus = 'F'").collect()}
    want_ins = {r["o_orderkey"] for r in e0.collect()}
    assert deletes == want_del
    assert inserts == want_ins


def test_version_diff_reads_only_changed_files(spark):
    # the CDF pruning contract: the plan's input files are exactly
    # the symmetric difference of the two live sets, never the table
    d = tl.stage_versioned_table(spark, SF_SMOKE)
    df = tl.version_diff(spark, SF_SMOKE, 1, 3)
    names = {os.path.basename(p) for p in df.inputFiles()}
    assert names == {"A0.parquet", "A1.parquet", "B0.parquet",
                     "C0.parquet", "D0.parquet", "E0.parquet"}
    assert "A2.parquet" not in names and "B1.parquet" not in names


def test_ivm_never_scans_the_target_live_set(spark):
    # the IVM contract: inputs are the v_from snapshot plus the
    # symmetric-difference files — B1 is live at BOTH v1 and v3 and
    # untouched by the diff, so it may appear only via the v1 base
    # read, and files born after v_from that persist (E0 arrives via
    # the diff) must not be double-read
    d = tl.stage_versioned_table(spark, SF_SMOKE)
    df = tl.cdf_ivm_rollup(spark, SF_SMOKE, 1, 3)
    names = sorted({os.path.basename(p) for p in df.inputFiles()})
    v1_live = {"A0.parquet", "A1.parquet", "A2.parquet", "A3.parquet",
               "B0.parquet", "B1.parquet"}
    diff_files = {"A0.parquet", "A1.parquet", "B0.parquet",
                  "C0.parquet", "D0.parquet", "E0.parquet"}
    assert set(names) == v1_live | diff_files


def test_ivm_equals_direct_time_travel(spark):
    direct = {
        (r["version"], r["o_orderpriority"]): (r["n_orders"], r["sum_cents"])
        for r in tl.time_travel_read(spark, SF_SMOKE).collect()
    }
    ivm = {
        r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
        for r in tl.cdf_ivm_rollup(spark, SF_SMOKE, 1, 3).collect()
    }
    want = {p: v for (ver, p), v in direct.items() if ver == 3}
    assert ivm == want


def test_pruned_scan_reads_only_candidate_files(spark):
    # the skip plan in use: only the two stats-candidate files reach
    # the scan (A2/A3 overlap the 35-55% key range at latest; C0,
    # D0, B1, E0 are skipped)
    df = tl.pruned_scan_read(spark, SF_SMOKE)
    names = sorted({os.path.basename(p) for p in df.inputFiles()})
    assert names == ["A2.parquet", "A3.parquet"], names


def test_optimize_is_transactional_and_change_free(spark, tmp_path):
    src = tl.stage_versioned_table(spark, SF_SMOKE)
    dest = str(tmp_path / "opt")
    tl.optimize_table(spark, src, dest, n_files=2)
    # the new latest is exactly the two OPT files
    assert _live(spark, dest) == ["OPT4-0.parquet", "OPT4-1.parquet"]
    # OPTIMIZE is change-free: the v3 -> v4 diff is empty
    assert tl.version_diff_dir(spark, dest, 3, 4).count() == 0
    # every OLD version still time-travels to the same live set
    for v in range(4):
        assert _live(spark, dest, v) == _live(spark, src, v)
    # the rewrite collapsed six files to two with disjoint key ranges
    snap = sorted(
        (r["min_key"], r["max_key"]) for r in
        sr.snapshot_files(spark, dest).collect()
    )
    assert len(snap) == 2
    assert snap[0][1] < snap[1][0]
    # and total live rows are preserved
    hist = {r["version"]: r["live_rows"] for r in
            tl.table_history_audit(spark, SF_SMOKE).collect()}
    new_rows = sum(r["n_rows"] for r in
                   sr.snapshot_files(spark, dest).collect())
    assert new_rows == hist[3]


def test_schema_evolution_is_metadata_plus_new_data(spark, tmp_path):
    src = tl.stage_versioned_table(spark, SF_SMOKE)
    dest = str(tmp_path / "evo")
    tl.evolve_table(spark, SF_SMOKE, dest)
    # the meta action declares the widened schema; pre-evolution
    # versions declare none (readers use physical schemas)
    assert tl.evolved_schema(spark, dest) == [
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "price_band",
    ]
    assert tl.evolved_schema(spark, dest, 3) is None
    # old files untouched: every pre-evolution version replays and
    # reads exactly as in the source table
    for v in range(4):
        assert _live(spark, dest, v) == _live(spark, src, v)
    assert (tl.snapshot_read(spark, dest, 3).count()
            == tl.snapshot_read(spark, src, 3).count())
    # the merged read NULL-backfills the new column on old files and
    # carries real values only for the new file's rows
    cur = tl.snapshot_read(spark, dest)
    assert "price_band" in cur.columns
    n_new = tl.snapshot_read(spark, dest).filter(
        "price_band IS NOT NULL").count()
    added = {r["path"]: r["n_rows"] for r in
             sr.snapshot_files(spark, dest).collect()}
    assert n_new == added["F4.parquet"] > 0
    # and the pre-evolution read has no such column at all
    assert "price_band" not in tl.snapshot_read(spark, dest, 3).columns


def test_commit_actions_optimistic_concurrency(spark, tmp_path):
    import threading

    d = _mklog(tmp_path, {0: [_add(0, "base.parquet")]})
    # a writer that loses the race retries at the next number
    won = []

    def worker(i):
        v = tl.commit_actions(d, [{"a": "add", "path": f"w{i}.parquet",
                                   "n_rows": 1, "n_bytes": 1,
                                   "min_key": 0, "max_key": 0,
                                   "min_date": "x", "max_date": "x"}])
        won.append(v)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # every writer got a DISTINCT version, nothing was lost
    assert sorted(won) == list(range(1, 9))
    live = _live(spark, d)
    assert len(live) == 9  # base + all 8 writers
    # and the stamped versions match the filenames they won
    log = tl.read_log(spark, d)
    for r in log.filter("path LIKE 'w%'").collect():
        assert r["v"] in won


def test_merge_is_one_atomic_version_touching_only_matched_files(
    spark, tmp_path
):
    """MERGE INTO (VERDICT r12 next #5): the two-phase pruning must
    rewrite ONLY the file that actually contains matched keys (A2 —
    every bucket-2 key), record the whole merge as ONE commit, and
    leave every pre-merge version time-travelable unchanged."""
    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "mrg")
    shutil.copytree(src_tbl, d)
    source = tl._merge_source(spark, SF_SMOKE)
    v = tl.merge_table(spark, d, source)
    assert v == 4  # one commit on top of the 4-version fixture
    log = tl.read_log(spark, d).filter(f"v = {v}").collect()
    removes = sorted(r["path"] for r in log if r["a"] == "remove")
    adds = sorted(r["path"] for r in log if r["a"] == "add")
    # stats-candidates include A3/B1/D0/E0 (in the source's global
    # key range) but only A2 contains matched keys — exact-touch
    # pruning must leave the others alone
    assert removes == ["A2.parquet"]
    assert adds == ["MRG4-0.parquet", "MRG4-ins.parquet"]
    # every pre-merge version replays exactly as in the source table
    for pv in range(4):
        assert _live(spark, d, pv) == _live(spark, src_tbl, pv)
    # row accounting: updates keep the count, inserts add bucket 7
    n_before = tl.snapshot_read(spark, src_tbl).count()
    n_inserted = next(
        r["n_rows"] for r in log
        if r["a"] == "add" and r["path"] == "MRG4-ins.parquet"
    )
    assert tl.snapshot_read(spark, d).count() == n_before + n_inserted
    # the VALUE-AWARE diff across the merge labels every changed row
    # whose key survives as a Delta-CDF update pair; pure inserts
    # stay inserts, and nothing was truly deleted
    n_a2 = spark.read.parquet(
        os.path.join(src_tbl, tl.DATA_SUBDIR, "A2.parquet")).count()
    diff = tl.version_diff_dir(spark, d, 3, 4)
    assert diff.filter("change = 'update_pre'").count() == n_a2
    assert diff.filter("change = 'update_post'").count() == n_a2
    assert diff.filter("change = 'insert'").count() == n_inserted
    assert diff.filter("change = 'delete'").count() == 0
    # and the updated file's rows really carry the +1000.00 price:
    # the rewritten file's cents total exceeds A2's by exactly
    # 100000 * its row count
    import os as _os

    old = spark.read.parquet(
        _os.path.join(src_tbl, tl.DATA_SUBDIR, "A2.parquet"))
    new = spark.read.parquet(
        _os.path.join(d, tl.DATA_SUBDIR, "MRG4-0.parquet"))
    assert new.count() == old.count()
    cents = tl.F.expr(tl._CENTS)
    delta = (new.agg(tl.F.sum(cents)).collect()[0][0]
             - old.agg(tl.F.sum(cents)).collect()[0][0])
    assert delta == 100000 * old.count()


def test_merge_insert_only_source_skips_rewrites(spark, tmp_path):
    # a source entirely beyond every file's key range must rewrite
    # nothing: one insert file, no removes
    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "mrgins")
    shutil.copytree(src_tbl, d)
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    source = orders.filter(tl.F.expr(f"o_orderkey div {width}") == 7)
    n_src = source.count()
    assert n_src > 0
    v = tl.merge_table(spark, d, source)
    log = tl.read_log(spark, d).filter(f"v = {v}").collect()
    assert sorted(r["a"] for r in log) == ["add"]
    assert tl.snapshot_read(spark, d).count() == (
        tl.snapshot_read(spark, src_tbl).count() + n_src
    )


def test_vacuum_lifecycle_retained_reads_vacuumed_raise(spark, tmp_path):
    """The executed-vacuum contract (VERDICT r12 next #7): dead files
    are physically deleted, the latest version still replays
    bit-identically, and a time-travel read below the horizon raises
    loudly instead of returning partial data."""
    import pytest

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "vac")
    shutil.copytree(src_tbl, d)
    before = tl.snapshot_read(spark, d).count()
    plan = sorted(r["path"] for r in tl.vacuum_plan(spark, d).collect())
    deleted = tl.vacuum_table(spark, d)
    assert deleted == plan == sorted(
        ["A0.parquet", "A1.parquet", "B0.parquet"])
    for p in deleted:
        assert not os.path.exists(os.path.join(d, tl.DATA_SUBDIR, p))
    # the latest version is untouched
    assert tl.snapshot_read(spark, d).count() == before
    assert _live(spark, d) == _live(spark, src_tbl)
    # reads below the horizon fail loudly (v0/v1 live sets name
    # vacuumed files)
    with pytest.raises(ValueError, match="vacuumed"):
        tl.snapshot_read(spark, d, 0)
    with pytest.raises(ValueError, match="vacuumed"):
        tl.snapshot_read(spark, d, 1)
    # v2 removed A0/A1 but still includes B0 -> also below horizon
    with pytest.raises(ValueError, match="vacuumed"):
        tl.snapshot_read(spark, d, 2)
    # vacuum is idempotent: a second pass deletes nothing
    assert tl.vacuum_table(spark, d) == []


def test_mor_delete_lifecycle(spark, tmp_path):
    """Merge-on-read deletes: one KB-scale delete file instead of a
    rewrite; the MOR view subtracts it at scan time; materialization
    folds it back to copy-on-write with the merge planner's pruning;
    retired delete files become vacuumable."""
    import pytest

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "mor")
    shutil.copytree(src_tbl, d)
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    keys = orders.filter(
        (tl.F.expr(f"o_orderkey div {width}") == 3)
        & (tl.F.col("o_orderkey") % 3 == 0)
    ).select("o_orderkey")
    n_del = keys.count()
    assert n_del > 0
    n_before = tl.snapshot_read(spark, d).count()

    v = tl.delete_keys_mor(spark, d, keys)
    # the delete is ONE commit and ONE small file; no data rewrite
    log_v = tl.read_log(spark, d).filter(f"v = {v}").collect()
    assert [r["a"] for r in log_v] == ["keydel"]
    # MOR view subtracts exactly the deleted keys; a PLAIN read now
    # REFUSES (it would silently resurrect deleted rows); a reader
    # declaring merge_on_read may ask for the raw physical set
    assert tl.snapshot_read_mor(spark, d).count() == n_before - n_del
    with pytest.raises(ValueError, match="merge_on_read"):
        tl.snapshot_read(spark, d)
    assert tl.snapshot_read(
        spark, d, reader_features=("merge_on_read",)
    ).count() == n_before
    # time travel BELOW the delete sees the full table
    assert tl.snapshot_read_mor(spark, d, v - 1).count() == n_before
    mor_rows = sorted(
        map(tuple, tl.snapshot_read_mor(spark, d).collect()))

    # materialize: one commit, only key-containing files rewritten,
    # delete file retired, plain read == the previous MOR view
    mv = tl.materialize_deletes(spark, d)
    log_m = tl.read_log(spark, d).filter(f"v = {mv}").collect()
    removes = sorted(r["path"] for r in log_m if r["a"] == "remove")
    # bucket-3 keys live only in A3; the KD file retires with it
    assert removes == [f"A3.parquet", f"KD{v}.parquet"]
    assert sr.snapshot_delete_files(spark, d).count() == 0
    assert sorted(
        map(tuple, tl.snapshot_read(spark, d).collect())) == mor_rows
    assert sorted(
        map(tuple, tl.snapshot_read_mor(spark, d).collect())) == mor_rows
    # the retired delete file (and old A3) are now vacuumable
    plan = sorted(r["path"] for r in tl.vacuum_plan(spark, d).collect())
    assert f"KD{v}.parquet" in plan and "A3.parquet" in plan
    deleted = tl.vacuum_table(spark, d)
    assert deleted == plan
    # post-vacuum: latest still reads; the MOR-era version raises
    assert tl.snapshot_read(spark, d).count() == n_before - n_del
    with pytest.raises(ValueError, match="vacuumed"):
        tl.snapshot_read_mor(spark, d, v)
    # double-delete of the same keys is idempotent in the view
    tl.delete_keys_mor(spark, d, keys.limit(max(n_del // 2, 1)))
    assert tl.snapshot_read_mor(spark, d).count() == n_before - n_del


def test_check_constraints_enforced_at_commit(spark, tmp_path):
    """CHECK constraints are table metadata enforced at write time:
    a violating append REJECTS the whole commit (never readable
    state); a clean append lands; constraints replay per version."""
    import pytest

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "ck")
    shutil.copytree(src_tbl, d)
    tl.add_check_constraint(d, "price_pos", "o_totalprice > 0")
    v = tl.add_check_constraint(
        d, "key_cap", "o_orderkey < 10000000000")
    assert tl.table_constraints(spark, d) == {
        "price_pos": "o_totalprice > 0",
        "key_cap": "o_orderkey < 10000000000",
    }
    # constraints are versioned metadata: none in force before them
    assert tl.table_constraints(spark, d, v - 2) == {}
    rows = [(10_000_000, "O", 12.5, "1995-06-01", "1-URGENT"),
            (10_000_001, "O", -1.0, "1995-06-01", "1-URGENT")]
    schema = ("o_orderkey long, o_orderstatus string,"
              " o_totalprice double, o_orderdate string,"
              " o_orderpriority string")
    bad = spark.createDataFrame(rows, schema).withColumn(
        "o_orderdate", tl.F.col("o_orderdate").cast("timestamp_ntz"))
    n0 = tl.snapshot_read(spark, d).count()
    with pytest.raises(ValueError, match="price_pos"):
        tl.constrained_append(spark, d, bad, "X0.parquet")
    # the rejected commit left NO readable state and no data file
    assert tl.snapshot_read(spark, d).count() == n0
    assert not os.path.exists(os.path.join(d, tl.DATA_SUBDIR, "X0.parquet"))
    good = bad.filter("o_totalprice > 0")
    tl.constrained_append(spark, d, good, "X1.parquet")
    assert tl.snapshot_read(spark, d).count() == n0 + 1


def test_idempotent_txn_commits(spark, tmp_path):
    """The exactly-once writer contract (Delta's txn action): a
    retried commit with the same (app_id, txn_version) is a no-op
    returning the original version; a new txn_version lands."""
    d = _mklog(tmp_path, {0: [_add(0, "base.parquet")]})

    def commit(txn_v, path):
        return tl.commit_actions(
            d, [_add(0, path) | {"a": "add"}], app_txn=("job", txn_v)
        )

    v1 = commit(1, "w1.parquet")
    assert v1 == 1
    # the crash-retry: same app txn, different payload name — no-op,
    # original version returned, nothing new in the log
    assert commit(1, "w1-retry.parquet") == v1
    assert _live(spark, d) == ["base.parquet", "w1.parquet"]
    # the next txn version is a real commit
    v2 = commit(2, "w2.parquet")
    assert v2 == 2
    assert _live(spark, d) == [
        "base.parquet", "w1.parquet", "w2.parquet"]
    # concurrent retries of ONE txn: exactly one lands
    import threading

    results = []
    threads = [
        threading.Thread(
            target=lambda i=i: results.append(commit(3, f"w3-{i}.parquet"))
        )
        for i in range(6)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(set(results)) == 1
    live = _live(spark, d)
    assert sum(1 for p in live if p.startswith("w3-")) == 1


def test_commit_conflict_detection(spark, tmp_path):
    """Snapshot-isolation at commit time: a writer that planned
    against files a concurrent commit has since rewritten must ABORT
    (lost-update protection), while non-conflicting commits land."""
    import pytest

    d = _mklog(tmp_path, {
        0: [_add(0, "f.parquet"), _add(0, "g.parquet")],
    })
    # a concurrent writer rewrites f between our plan and our commit
    tl.commit_actions(d, [_rm(1, "f.parquet"), _add(1, "f2.parquet")])
    with pytest.raises(tl.ConcurrentModificationError, match="f.parquet"):
        tl.commit_actions(
            d,
            [_rm(0, "f.parquet"), _add(0, "mine.parquet")],
            expects_live=["f.parquet"],
        )
    # the aborted commit left nothing in the log
    assert _live(spark, d) == ["f2.parquet", "g.parquet"]
    # planning against a still-live file commits fine
    v = tl.commit_actions(
        d,
        [_rm(0, "g.parquet"), _add(0, "g2.parquet")],
        expects_live=["g.parquet"],
    )
    assert v == 2
    assert _live(spark, d) == ["f2.parquet", "g2.parquet"]
    # the driver-side replay honors remove-beats-add within a version
    d2 = _mklog(tmp_path.joinpath("x"), {
        0: [_add(0, "h.parquet")],
        1: [_add(1, "h.parquet"), _rm(1, "h.parquet")],
    })
    with pytest.raises(tl.ConcurrentModificationError):
        tl.commit_actions(
            d2, [_rm(0, "h.parquet")], expects_live=["h.parquet"]
        )


def test_bloom_skipping_trust_contract(spark):
    """The planner trust contract for the Bloom point-lookup index:
    NO false negatives (every true containing file is a candidate)
    and absent probes genuinely skip (otherwise the index is
    vacuous)."""
    rows = {r["probe_key"]: r for r in
            tl.bloom_skipping_audit(spark, SF_SMOKE).collect()}
    assert len(rows) == 97
    assert all(
        r["n_true_files"] <= r["n_candidate_files"] for r in rows.values()
    )
    absent = [r for r in rows.values() if r["n_true_files"] == 0]
    assert absent, "probe grid should include absent keys"
    assert all(r["n_candidate_files"] == 0 for r in absent)
    present = [r for r in rows.values() if r["n_true_files"] > 0]
    assert present and all(
        r["n_candidate_files"] >= 1 for r in present
    )


def test_replay_matches_reference_model(spark, tmp_path):
    """Property test: Spark's window replay == a trivial in-memory
    reference over randomized action logs (last action <= V wins,
    remove beats add within a version)."""
    from hypothesis import given, settings, strategies as st

    paths = [f"p{i}.parquet" for i in range(4)]

    @st.composite
    def logs(draw):
        n_versions = draw(st.integers(min_value=1, max_value=4))
        commits = {}
        for v in range(n_versions):
            acts = []
            for p in draw(st.lists(st.sampled_from(paths), min_size=1,
                                   max_size=3, unique=True)):
                if draw(st.booleans()):
                    acts.append(_add(v, p))
                else:
                    acts.append(_rm(v, p))
            commits[v] = acts
        return commits

    @settings(max_examples=8, deadline=None)
    @given(commits=logs())
    def check(commits):
        import shutil as _sh

        d = tmp_path / "prop"
        _sh.rmtree(d, ignore_errors=True)
        dd = _mklog_at(d, commits)
        n_versions = len(commits)
        for v in (0, n_versions - 1):
            # reference replay
            state = {}
            for cv in range(v + 1):
                adds = {a["path"] for a in commits[cv] if a["a"] == "add"}
                rms = {a["path"] for a in commits[cv] if a["a"] == "remove"}
                for p in adds - rms:   # remove beats add in-version
                    state[p] = True
                for p in rms:
                    state[p] = False
            want = sorted(p for p, alive in state.items() if alive)
            assert _live(spark, dd, v) == want, (v, commits)

    check()


def _mklog_at(d, commits):
    (d / tl.LOG_SUBDIR).mkdir(parents=True)
    (d / tl.DATA_SUBDIR).mkdir()
    for v, lines in commits.items():
        (d / tl.LOG_SUBDIR / f"{v:08d}.json").write_text(
            "\n".join(json.dumps(x) for x in lines) + "\n")
    return str(d)


def test_staging_is_idempotent(spark):
    d1 = tl.stage_versioned_table(spark, SF_SMOKE)
    mtime = os.path.getmtime(os.path.join(d1, "_SUCCESS"))
    d2 = tl.stage_versioned_table(spark, SF_SMOKE)
    assert d1 == d2
    assert os.path.getmtime(os.path.join(d2, "_SUCCESS")) == mtime


def test_maintenance_lifecycle_composes(spark, tmp_path):
    """OPTIMIZE then EVOLVE on one table copy: the maintenance ops a
    real table runs back to back must compose — every version still
    replays, the evolved read sees both the rewritten layout and the
    new column, and vacuum only names dead files."""
    dest = str(tmp_path / "life")
    src = tl.stage_versioned_table(spark, SF_SMOKE)
    tl.optimize_table(spark, src, dest, n_files=2)          # commit v4
    # evolve the OPTIMIZED copy: append the new-column commit on top
    orders_cols = ["o_orderkey", "o_orderstatus", "o_totalprice",
                   "o_orderdate", "o_orderpriority"]
    from gemmsql.datamodel import load_table
    from pyspark.sql import functions as F

    orders = load_table(spark, SF_SMOKE, "orders").select(*orders_cols)
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    new = orders.filter(F.expr(f"o_orderkey div {width} = 7")).withColumn(
        "price_band", F.floor(F.col("o_totalprice") / 1000).cast("long"))
    name = "F5.parquet"
    path = os.path.join(dest, tl.DATA_SUBDIR, name)
    tl._write_one_file(new, path)
    v = tl.commit_actions(dest, [
        {"a": "meta", "schema_cols": orders_cols + ["price_band"]},
        {"a": "add", "path": name, "n_rows": new.count(),
         "n_bytes": os.path.getsize(path), "min_key": 0, "max_key": int(mx),
         "min_date": "x", "max_date": "x"},
    ])
    assert v == 5
    assert _live(spark, dest) == ["F5.parquet", "OPT4-0.parquet",
                                  "OPT4-1.parquet"]
    for ver in range(4):
        assert _live(spark, dest, ver) == _live(spark, src, ver)
    cur = tl.snapshot_read(spark, dest)
    assert "price_band" in cur.columns
    assert cur.count() == (tl.snapshot_read(spark, src).count()
                           + new.count())
    dead = sorted(r["path"] for r in tl.vacuum_plan(spark, dest).collect())
    live = set(_live(spark, dest))
    assert live.isdisjoint(dead)
    assert "A0.parquet" in dead and "C0.parquet" in dead


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    """ADVICE r13 #1: a duplicate-keyed source would fan each matched
    target row out once per duplicate — merge_table must refuse it
    loudly (Delta's multiple-source-rows-matched error) instead of
    silently corrupting the rewrite."""
    import pytest

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "mrgdup")
    shutil.copytree(src_tbl, d)
    source = tl._merge_source(spark, SF_SMOKE)
    pre = _live(spark, d)
    with pytest.raises(ValueError, match="duplicate keys"):
        tl.merge_table(spark, d, source.unionByName(source))
    # nothing committed: the table is untouched
    assert _live(spark, d) == pre


def test_history_audit_skips_keydel_removes(spark, tmp_path):
    """ADVICE r13 #5: a 'remove' retiring a keydel-born equality-
    delete file never counted toward live_files/rows_added, so it
    must not decrement them either — running totals on a MOR table
    stay non-negative and match the data-file lifecycle."""
    d = _mklog(tmp_path, {
        0: [_add(0, "f.parquet", rows=10)],
        1: [{"v": 1, "a": "keydel", "path": "KD1.parquet", "n_rows": 3}],
        2: [_rm(2, "KD1.parquet")],   # retire the delete file
        3: [_rm(3, "f.parquet")],
    })
    rows = {r["version"]: r for r in
            tl.table_history_audit_dir(spark, d).collect()}
    assert rows[0]["live_files"] == 1 and rows[0]["rows_added"] == 10
    # the keydel commit and its retirement are liveness no-ops
    assert rows[1]["n_remove"] == 0 and rows[1]["live_files"] == 1
    assert rows[2]["n_remove"] == 0 and rows[2]["live_files"] == 1
    assert rows[2]["rows_removed"] == 0 and rows[2]["live_rows"] == 10
    # the real data remove still counts
    assert rows[3]["n_remove"] == 1 and rows[3]["live_files"] == 0
    assert rows[3]["rows_removed"] == 10 and rows[3]["live_rows"] == 0


def test_version_diff_preserves_row_multiplicity(spark, tmp_path):
    """ADVICE r13 #3: the CDF must use BAG semantics — a full row
    present twice at v0 and once at v1 emits exactly ONE delete (net
    surplus), not zero (set cancellation) and not two."""
    d = tmp_path / "dup"
    (d / tl.LOG_SUBDIR).mkdir(parents=True)
    (d / tl.DATA_SUBDIR).mkdir()
    row = (1, "O", 10.0, "1995-01-01", "1-URGENT")
    cols = ("o_orderkey o_orderstatus o_totalprice "
            "o_orderdate o_orderpriority")
    schema = ("o_orderkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate string, "
              "o_orderpriority string")
    for name, rows in (("dup2.parquet", [row, row]),
                       ("dup1.parquet", [row])):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(d / "_stg"))
        part = next((d / "_stg").glob("part-*.parquet"))
        shutil.move(str(part), str(d / tl.DATA_SUBDIR / name))
    shutil.rmtree(str(d / "_stg"))
    (d / tl.LOG_SUBDIR / "00000000.json").write_text(
        json.dumps(_add(0, "dup2.parquet", rows=2)) + "\n")
    (d / tl.LOG_SUBDIR / "00000001.json").write_text(
        "\n".join([json.dumps(_rm(1, "dup2.parquet")),
                   json.dumps(_add(1, "dup1.parquet", rows=1))]) + "\n")
    diff = tl.version_diff_dir(spark, str(d), 0, 1).collect()
    assert len(diff) == 1
    assert diff[0]["change"] == "delete"
    assert diff[0]["o_orderkey"] == 1


def test_column_mapping_lifecycle(spark, tmp_path):
    """The rename/drop evolution matrix (VERDICT r13 next #4):
    renames and drops are metadata-only, every historical version
    reads under the names IT had, appends after a rename land under
    frozen physical names, and adds under mapping NULL-backfill."""
    import pytest

    from gemmsql.datamodel import load_table

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "map")
    shutil.copytree(src_tbl, d)
    base_cols = tl.snapshot_read(spark, d).columns
    n3 = tl.snapshot_read(spark, d).count()

    # RENAME: metadata only — zero data files written
    files_before = sorted(os.listdir(os.path.join(d, tl.DATA_SUBDIR)))
    v = tl.rename_column(spark, d, "o_orderpriority", "priority")
    assert v == 4
    assert sorted(os.listdir(os.path.join(d, tl.DATA_SUBDIR))) == \
        files_before
    # latest read shows the new name, same rows
    cur = tl.snapshot_read_mapped(spark, d)
    assert "priority" in cur.columns
    assert "o_orderpriority" not in cur.columns
    assert cur.count() == n3
    # time travel BELOW the rename answers under the OLD name
    old = tl.snapshot_read_mapped(spark, d, 3)
    assert old.columns == base_cols
    assert old.count() == n3
    # collision / missing-column rejection
    with pytest.raises(ValueError, match="already exists"):
        tl.rename_column(spark, d, "o_orderkey", "priority")
    with pytest.raises(ValueError, match="no such column"):
        tl.rename_column(spark, d, "o_orderpriority", "x")

    # APPEND under the renamed logical schema: physical name on disk
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    newrows = orders.filter(
        tl.F.expr(f"o_orderkey div {width}") == 7
    ).withColumnRenamed("o_orderpriority", "priority")
    n_new = newrows.count()
    assert tl.append_mapped(spark, d, newrows, "G5.parquet") == 5
    import pyarrow.parquet as pq

    phys = pq.read_schema(os.path.join(d, tl.DATA_SUBDIR, "G5.parquet"))
    assert "o_orderpriority" in phys.names and "priority" not in phys.names
    assert tl.snapshot_read_mapped(spark, d).count() == n3 + n_new
    # an append naming an unmapped column rejects
    with pytest.raises(ValueError, match="not in mapping"):
        tl.append_mapped(
            spark, d, newrows.withColumnRenamed("priority", "nope"),
            "H6.parquet")

    # DROP: metadata only; gone at latest, intact below
    v = tl.drop_column(spark, d, "o_orderstatus")
    cur = tl.snapshot_read_mapped(spark, d)
    assert "o_orderstatus" not in cur.columns
    assert "o_orderstatus" in tl.snapshot_read_mapped(spark, d, 3).columns
    assert "o_orderstatus" in \
        tl.snapshot_read_mapped(spark, d, 5).columns  # pre-drop, post-rename
    # the physical bytes are untouched: re-adding is impossible under
    # the same fid, and a NEW column never collides with the dropped
    # one's physical name
    v = tl.add_column_mapped(spark, d, "o_orderstatus", "string")
    readd = tl.snapshot_read_mapped(spark, d)
    # the re-added logical column is a FRESH field: NULL everywhere,
    # not the dropped column's old bytes
    assert readd.filter(tl.F.col("o_orderstatus").isNotNull()).count() == 0
    # pre-drop reads still see the ORIGINAL values
    assert tl.snapshot_read_mapped(spark, d, 5).filter(
        tl.F.col("o_orderstatus").isNotNull()).count() > 0


def test_column_mapping_predates_mapping_reads_raw(spark, tmp_path):
    """A table with no mapping commits reads raw physical schemas —
    snapshot_read_mapped is snapshot_read exactly."""
    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "nomap")
    shutil.copytree(src_tbl, d)
    a = tl.snapshot_read(spark, d)
    b = tl.snapshot_read_mapped(spark, d)
    assert a.columns == b.columns
    assert a.count() == b.count()
    assert tl.column_mapping(spark, d) is None


def test_vacuum_across_streaming_checkpoint(spark, tmp_path):
    """VERDICT r13 next #8: the commit-stream IVM survives a vacuum
    of versions it already checkpointed past — recovery reads only
    retained commits — and fails LOUDLY when the checkpoint horizon
    itself is vacuumed away (a fresh checkpoint forces a full log
    replay into deleted files)."""
    import pytest

    from gemmsql.datamodel import load_table

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "vstream")
    shutil.copytree(src_tbl, d)
    ckpt = str(tmp_path / "ckpt")
    emissions = str(tmp_path / "emissions")

    # drain 1: all four commits through the checkpoint (this opens
    # A0/A1/B0 — the files the vacuum below deletes)
    tl.ivm_drain(spark, d, ckpt, emissions)

    # vacuum the dead files, then land a REAL new commit
    deleted = tl.vacuum_table(spark, d)
    assert sorted(deleted) == ["A0.parquet", "A1.parquet", "B0.parquet"]
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    add = tl._write_with_add_action(
        orders.filter(tl.F.expr(f"o_orderkey div {width}") == 7),
        d, "F5.parquet")
    assert tl.commit_actions(d, [add]) == 4

    # drain 2 (checkpoint recovery): processes ONLY the new commit —
    # the vacuumed files are behind the checkpoint and never reopen
    tl.ivm_drain(spark, d, ckpt, emissions)
    got = {
        r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
        for r in tl.ivm_view(spark, emissions).collect()
    }
    want = {
        r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
        for r in tl.snapshot_read(spark, d).groupBy("o_orderpriority").agg(
            tl.F.count("*").cast("long").alias("n_orders"),
            tl.F.sum(tl.F.expr(tl._CENTS)).cast("long").alias("sum_cents"),
        ).collect()
    }
    assert got == want

    # a FRESH checkpoint (lost progress) must fail loudly: the full
    # replay reads commits whose files the vacuum deleted
    with pytest.raises(Exception, match="vacuumed"):
        tl.ivm_drain(
            spark, d, str(tmp_path / "ckpt2"), str(tmp_path / "em2"))


def test_reader_protocol_gates_old_readers(spark, tmp_path):
    """The protocol contract (Delta's protocol action): once a table
    gains column mapping, a reader that does not declare the feature
    FAILS LOUDLY instead of silently returning physical names and
    dropped columns — while versions BELOW the feature commit stay
    readable by old readers (per-version gating)."""
    import pytest

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "proto")
    shutil.copytree(src_tbl, d)
    # pre-mapping: no features required anywhere
    assert tl.required_reader_features(d) == set()
    old_read_ok = tl.snapshot_read(spark, d).count()
    v = tl.rename_column(spark, d, "o_orderpriority", "priority")
    # the FIRST mapping commit carries the protocol action
    assert tl.required_reader_features(d) == {"column_mapping"}
    assert tl.required_reader_features(d, v - 1) == set()
    # an old reader at latest fails loudly
    with pytest.raises(ValueError, match="column_mapping"):
        tl.snapshot_read(spark, d)
    # ...but time travel below the migration still works for it
    assert tl.snapshot_read(spark, d, v - 1).count() == old_read_ok
    # the feature-aware reader works at every version
    assert tl.snapshot_read_mapped(spark, d).count() == old_read_ok
    assert tl.snapshot_read_mapped(spark, d, v - 1).count() == old_read_ok
    # a second mapping commit does NOT re-emit the protocol action
    tl.drop_column(spark, d, "o_orderstatus")
    protos = tl.read_log(spark, d).filter("a = 'protocol'").collect()
    assert len(protos) == 1
    # MOR reads ride snapshot_read, so they inherit the gate
    with pytest.raises(ValueError, match="column_mapping"):
        tl.snapshot_read_mor(spark, d)


def test_merge_under_column_mapping(spark, tmp_path):
    """MERGE composes with column mapping: the source arrives under
    LOGICAL names, the rewrite runs on frozen physical names, and a
    dropped column's bytes stay in old files without propagating
    into post-drop rewrites."""
    import pyarrow.parquet as pq
    import pytest

    from gemmsql.datamodel import load_table

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "mrgmap")
    shutil.copytree(src_tbl, d)
    assert tl.rename_column(spark, d, "o_orderpriority", "priority") == 4
    assert tl.drop_column(spark, d, "o_orderstatus") == 5

    orders = load_table(spark, SF_SMOKE, "orders")
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    # the source carries EXACTLY the logical schema (post-drop)
    source = orders.filter(
        tl.F.expr(f"o_orderkey div {width}").isin(2, 7)
    ).select(
        "o_orderkey", "o_totalprice", "o_orderdate",
        tl.F.col("o_orderpriority").alias("priority"),
    ).withColumn("o_totalprice", tl.F.col("o_totalprice") + tl.F.lit(1000.0))

    pre = tl.snapshot_read_mapped(spark, d)
    n_pre = pre.count()
    v = tl.merge_table(spark, d, source)
    assert v == 6
    log = tl.read_log(spark, d).filter(f"v = {v}").collect()
    removes = sorted(r["path"] for r in log if r["a"] == "remove")
    assert removes == ["A2.parquet"]  # exact-touch pruning holds
    # rewritten + insert files carry ONLY mapped physical columns:
    # the dropped o_orderstatus does not propagate
    for r in log:
        if r["a"] == "add":
            names = pq.read_schema(
                os.path.join(d, tl.DATA_SUBDIR, r["path"])).names
            assert "o_orderstatus" not in names, r["path"]
            assert "o_orderpriority" in names  # frozen physical name
    # the mapped read sees the merged state under logical names
    post = tl.snapshot_read_mapped(spark, d)
    n_ins = next(r["n_rows"] for r in log
                 if r["a"] == "add" and r["path"].endswith("-ins.parquet"))
    assert post.count() == n_pre + n_ins
    assert "priority" in post.columns and \
        "o_orderstatus" not in post.columns
    # updated rows really carry the +1000.00
    bump = source.count() - n_ins  # matched rows
    cents = tl.F.expr(tl._CENTS)
    delta = (post.agg(tl.F.sum(cents)).collect()[0][0]
             - pre.agg(tl.F.sum(cents)).collect()[0][0]
             - source.filter(
                 tl.F.expr(f"o_orderkey div {width}") == 7
             ).agg(tl.F.sum(cents)).collect()[0][0])
    assert delta == 100000 * bump
    # time travel below the drop still reads o_orderstatus
    assert "o_orderstatus" in tl.snapshot_read_mapped(spark, d, 4).columns
    # a source with a wrong/missing logical column refuses
    with pytest.raises(ValueError, match="logical schema"):
        tl.merge_table(spark, d, source.drop("priority"))


def test_constraints_compose_with_mapping(spark, tmp_path):
    """CHECK constraints and column mapping interact under Delta's
    rules: a constrained column cannot rename or drop; every append
    (mapped or not) enforces constraints on LOGICAL names; a
    post-rename constraint governs mapped appends."""
    import pytest

    from gemmsql.datamodel import load_table

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "conmap")
    shutil.copytree(src_tbl, d)
    tl.add_check_constraint(d, "pos_price", "o_totalprice > 0")
    # a constrained column refuses rename and drop
    with pytest.raises(ValueError, match="pos_price"):
        tl.rename_column(spark, d, "o_totalprice", "price")
    with pytest.raises(ValueError, match="pos_price"):
        tl.drop_column(spark, d, "o_totalprice")
    # an UNconstrained column still renames
    v = tl.rename_column(spark, d, "o_orderpriority", "priority")

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", tl.F.col("o_orderpriority").alias("priority"),
    )
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    bucket7 = orders.filter(tl.F.expr(f"o_orderkey div {width}") == 7)
    # a violating mapped append rejects WHOLESALE at commit time
    with pytest.raises(ValueError, match="pos_price"):
        tl.append_mapped(
            spark, d,
            bucket7.withColumn("o_totalprice", tl.F.lit(-1.0)),
            "BAD.parquet")
    assert not os.path.exists(os.path.join(d, tl.DATA_SUBDIR,
                                           "BAD.parquet"))
    # a clean mapped append lands, and a post-rename constraint on
    # the NEW logical name governs the next append
    tl.append_mapped(spark, d, bucket7, "G.parquet")
    tl.add_check_constraint(d, "urgentish", "priority LIKE '%-%'")
    with pytest.raises(ValueError, match="urgentish"):
        tl.append_mapped(
            spark, d,
            bucket7.withColumn("priority", tl.F.lit("nope")),
            "BAD2.parquet")
    n = tl.snapshot_read_mapped(spark, d).count()
    assert n == tl.snapshot_read(spark, src_tbl).count() + bucket7.count()


def test_log_expiry_lifecycle(spark, tmp_path):
    """Log retention (Delta's metadata cleanup): expire_log
    checkpoints the horizon state and deletes the commits below it;
    retained reads replay identically through the checkpoint by
    DEFAULT, below-horizon replay raises loudly, and new commits
    (with the conflict check's driver-side replay now seeded from
    the checkpoint) keep working."""
    import pytest

    from gemmsql.datamodel import load_table

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "exp")
    shutil.copytree(src_tbl, d)
    want_live = _live(spark, d)
    want_v2 = _live(spark, d, 2)
    n_latest = tl.snapshot_read(spark, d).count()

    deleted = tl.expire_log(spark, d, 2)
    assert deleted == ["00000000.json", "00000001.json"]
    # retained replay is identical, by default (no from_checkpoint)
    assert _live(spark, d) == want_live
    assert _live(spark, d, 2) == want_v2
    assert tl.snapshot_read(spark, d).count() == n_latest
    # below the checkpoint: loud, named error (v1 stays readable —
    # it IS the checkpoint state; v0 is gone)
    with pytest.raises(ValueError, match="log expired"):
        tl.snapshot_read(spark, d, 0)
    # v1 state == checkpoint base exactly (checkpoint at horizon-1)
    assert _live(spark, d, 1) == sorted(
        r["path"] for r in spark.read.parquet(
            tl._checkpoint_dir(d, 1)).collect())

    # new commits land and the conflict check replays correctly
    # against checkpoint + retained commits
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    add = tl._write_with_add_action(
        orders.filter(tl.F.expr(f"o_orderkey div {width}") == 7),
        d, "F4.parquet")
    v = tl.commit_actions(d, [add], expects_live=["A2.parquet"])
    assert v == 4
    assert "F4.parquet" in _live(spark, d)
    # expiring at a version carrying only add/remove actions is the
    # supported scope; a metadata-bearing horizon refuses
    # idempotent second expiry: nothing left below the horizon
    assert tl.expire_log(spark, d, 2) == []


def test_log_expiry_carries_metadata(spark, tmp_path):
    """Metadata-carrying checkpoints: expiring past meta / protocol /
    constraint commits preserves them — mapped reads, old-reader
    gating, schema history, and CHECK enforcement all keep working
    from the checkpoint; txn and live-keydel horizons still refuse."""
    import pytest

    from gemmsql.datamodel import load_table

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "expmeta")
    shutil.copytree(src_tbl, d)
    tl.add_check_constraint(d, "pos", "o_totalprice > 0")        # v4
    assert tl.rename_column(spark, d, "o_orderpriority",
                            "priority") == 5                      # v5
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", tl.F.col("o_orderpriority").alias("priority"),
    )
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    b7 = orders.filter(tl.F.expr(f"o_orderkey div {width}") == 7)
    assert tl.append_mapped(spark, d, b7, "G6.parquet") == 6      # v6
    want = {r["priority"]: r["n"] for r in
            tl.snapshot_read_mapped(spark, d)
            .groupBy("priority").agg(tl.F.count("*").alias("n"))
            .collect()}

    # expire past the constraint AND the mapping commits
    deleted = tl.expire_log(spark, d, 6)
    assert len(deleted) == 6  # v0..v5 gone
    # mapping survives: mapped read identical, logical names intact
    got = {r["priority"]: r["n"] for r in
           tl.snapshot_read_mapped(spark, d)
           .groupBy("priority").agg(tl.F.count("*").alias("n"))
           .collect()}
    assert got == want
    # protocol survives: an old reader still refuses
    with pytest.raises(ValueError, match="column_mapping"):
        tl.snapshot_read(spark, d)
    assert tl.required_reader_features(d) == {"column_mapping"}
    # constraints survive: a violating append still rejects
    assert tl.table_constraints(spark, d) == {"pos": "o_totalprice > 0"}
    with pytest.raises(ValueError, match="pos"):
        tl.append_mapped(
            spark, d, b7.withColumn("o_totalprice", tl.F.lit(-1.0)),
            "BAD.parquet")
    # schema history survives with original versions
    assert "priority" in (tl.evolved_schema(spark, d) or [])
    # a live keydel below the horizon refuses
    d2 = str(tmp_path / "expkd")
    shutil.copytree(src_tbl, d2)
    keys = orders.filter(
        (tl.F.expr(f"o_orderkey div {width}") == 3)
        & (tl.F.col("o_orderkey") % 3 == 0)
    ).select("o_orderkey")
    tl.delete_keys_mor(spark, d2, keys)                           # v4
    add2 = tl._write_with_add_action(
        orders.withColumnRenamed("priority", "o_orderpriority"),
        d2, "F5.parquet")
    assert tl.commit_actions(d2, [add2]) == 5
    with pytest.raises(ValueError, match="keydel"):
        tl.expire_log(spark, d2, 5)


def test_log_expiry_streaming_interplay(spark, tmp_path):
    """The commit-stream IVM survives expiry of commits it already
    checkpointed past, and a FRESH view build on an expired log
    refuses loudly instead of folding a partial history."""
    import pytest

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "expstream")
    shutil.copytree(src_tbl, d)
    ckpt = str(tmp_path / "ckpt")
    emissions = str(tmp_path / "emissions")
    tl.ivm_drain(spark, d, ckpt, emissions)

    tl.expire_log(spark, d, 2)
    # recovery: file-source checkpoint progress covers the expired
    # prefix; only new commits would process (none yet — a no-op
    # drain must not fail)
    tl.ivm_drain(spark, d, ckpt, emissions)
    got = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
           for r in tl.ivm_view(spark, emissions).collect()}
    want = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
            for r in tl.snapshot_read(spark, d)
            .groupBy("o_orderpriority").agg(
                tl.F.count("*").cast("long").alias("n_orders"),
                tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                .alias("sum_cents")).collect()}
    assert got == want
    # a fresh build (new checkpoint) on the expired log refuses
    with pytest.raises(ValueError, match="bootstrap"):
        tl.ivm_drain(spark, d, str(tmp_path / "c2"), str(tmp_path / "e2"))


def test_optimize_zorder_is_transactional_and_change_free(spark, tmp_path):
    """OPTIMIZE ZORDER BY inside the log's transactional frame: the
    rewrite is change-free (the CDF across it is EMPTY), old versions
    stay time-travelable, and the new files each cover a small
    hypercube — per-file spans on BOTH z-dimensions are narrower than
    the global span."""
    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "optz")
    tl.optimize_table(
        spark, src_tbl, d, n_files=4,
        zorder_by=("o_orderkey", "o_totalprice"),
    )
    latest = int(tl.read_log(spark, d).agg(tl.F.max("v")).collect()[0][0])
    # change-free rewrite: the diff across the OPTIMIZE commit is empty
    assert tl.version_diff_dir(spark, d, latest - 1, latest).count() == 0
    # rows preserved, old versions intact
    assert tl.snapshot_read(spark, d).count() == \
        tl.snapshot_read(spark, src_tbl).count()
    for pv in range(latest):
        assert _live(spark, d, pv) == _live(spark, src_tbl, pv)
    # every live file is an OPT file covering a hypercube: spans on
    # BOTH dimensions beat the global span (a single-key clustering
    # leaves o_totalprice spans at ~global width)
    live = _live(spark, d)
    assert all(p.startswith(f"OPT{latest}-") for p in live)
    assert len(live) >= 3
    full = tl.snapshot_read(spark, d)
    g = full.agg(
        (tl.F.max("o_orderkey") - tl.F.min("o_orderkey")).alias("sk"),
        (tl.F.max("o_totalprice") - tl.F.min("o_totalprice")).alias("sp"),
    ).collect()[0]
    import os as _os
    for p in live:
        f = spark.read.parquet(_os.path.join(d, tl.DATA_SUBDIR, p))
        st = f.agg(
            (tl.F.max("o_orderkey") - tl.F.min("o_orderkey")).alias("sk"),
            (tl.F.max("o_totalprice") - tl.F.min("o_totalprice"))
            .alias("sp"),
        ).collect()[0]
        assert st["sk"] < g["sk"], p
        assert st["sp"] < g["sp"], p


def test_positional_delete_lifecycle(spark, tmp_path):
    """Positional MOR deletes (Iceberg position-delete files): a
    DELETE WHERE on a non-key predicate lands as one (file, row
    position) PD file, readers subtract at scan time via
    _metadata.row_index, both delete kinds compose, and
    materialize_deletes folds everything back to copy-on-write."""
    import pytest

    from gemmsql.datamodel import load_table

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "posdel")
    shutil.copytree(src_tbl, d)
    files_before = sorted(os.listdir(os.path.join(d, tl.DATA_SUBDIR)))
    pred = "o_orderstatus = 'F' AND o_orderkey % 7 = 0"
    n_all = tl.snapshot_read(spark, d).count()
    n_hit = tl.snapshot_read(spark, d).filter(pred).count()
    assert n_hit > 0
    v = tl.delete_positions_mor(spark, d, pred)
    # zero data files rewritten: one PD file appeared, nothing else
    files_after = sorted(os.listdir(os.path.join(d, tl.DATA_SUBDIR)))
    assert files_after == sorted(files_before + [f"PD{v}.parquet"])
    # the MOR read equals the filtered recompute
    mor = tl.snapshot_read_mor(spark, d)
    assert mor.count() == n_all - n_hit
    assert mor.filter(pred).count() == 0
    # time travel below the delete is untouched
    assert tl.snapshot_read_mor(spark, d, v - 1).count() == n_all
    # an empty predicate refuses
    with pytest.raises(ValueError, match="matched no rows"):
        tl.delete_positions_mor(spark, d, "o_orderkey < 0")

    # COMPOSE with an equality delete
    orders = load_table(spark, SF_SMOKE, "orders")
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    keys = orders.filter(
        (tl.F.expr(f"o_orderkey div {width}") == 3)
        & (tl.F.col("o_orderkey") % 3 == 0)
    ).select("o_orderkey")
    tl.delete_keys_mor(spark, d, keys)
    both = tl.snapshot_read_mor(spark, d)
    want = both.count()
    assert want < n_all - n_hit  # keydel removed more
    assert both.filter(pred).count() == 0
    # expiry refuses a live posdel horizon
    with pytest.raises(ValueError, match="posdel"):
        tl.expire_log(spark, d, v + 1)

    # materialize folds BOTH kinds back to copy-on-write
    before = {tuple(r) for r in both.collect()}
    tl.materialize_deletes(spark, d)
    plain = tl.snapshot_read(spark, d)
    assert plain.count() == want
    assert {tuple(r) for r in plain.collect()} == before
    # the PD and KD files are retired -> vacuumable
    plan = {r["path"] for r in tl.vacuum_plan(spark, d).collect()}
    assert f"PD{v}.parquet" in plan
    assert any(p.startswith("KD") for p in plan)


def test_delete_where_cow_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write DELETE WHERE: only files CONTAINING matches
    rewrite, fully-deleted files just remove, the commit is one
    atomic version, and the result equals the filtered recompute —
    with time travel below the delete intact."""
    import pytest

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "cowdel")
    shutil.copytree(src_tbl, d)
    from gemmsql.datamodel import load_table

    n_all = tl.snapshot_read(spark, d).count()
    # every bucket-2 key with status F: contained entirely in A2
    # (bucket arithmetic uses the ORDERS max, the fixture's width)
    mx = load_table(spark, SF_SMOKE, "orders").agg(
        tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    pred = f"o_orderkey div {width} = 2 AND o_orderstatus = 'F'"
    n_hit = tl.snapshot_read(spark, d).filter(pred).count()
    assert n_hit > 0
    v = tl.delete_where_cow(spark, d, pred)
    log = tl.read_log(spark, d).filter(f"v = {v}").collect()
    removes = sorted(r["path"] for r in log if r["a"] == "remove")
    assert removes == ["A2.parquet"]  # exact-touch: one file rewrote
    after = tl.snapshot_read(spark, d)
    assert after.count() == n_all - n_hit
    assert after.filter(pred).count() == 0
    assert tl.snapshot_read(spark, d, v - 1).count() == n_all
    # no matches -> loud refusal, nothing committed
    with pytest.raises(ValueError, match="matched no rows"):
        tl.delete_where_cow(spark, d, "o_orderkey < 0")
    # delete EVERYTHING in one file: the rewrite emits no add
    pred_all = f"o_orderkey div {width} = 3"
    v2 = tl.delete_where_cow(spark, d, pred_all)
    log2 = tl.read_log(spark, d).filter(f"v = {v2}").collect()
    assert sorted(r["a"] for r in log2).count("remove") >= 1
    assert tl.snapshot_read(spark, d).filter(pred_all).count() == 0


def test_posdel_mid_stream_retracts_from_ivm(spark, tmp_path):
    """The positional twin of the streaming MOR composition: a
    delete_positions_mor commit lands mid-stream and the maintained
    view retracts exactly the named (file, position) rows — the view
    after recovery hash-equals the batch MOR recompute."""
    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "pdstream")
    shutil.copytree(src_tbl, d)
    ckpt = str(tmp_path / "ckpt")
    emissions = str(tmp_path / "emissions")
    tl.ivm_drain(spark, d, ckpt, emissions)
    # the live positional delete, while the stream is down
    tl.delete_positions_mor(
        spark, d, "o_orderstatus = 'F' AND o_orderkey % 7 = 0")
    tl.ivm_drain(spark, d, ckpt, emissions)
    got = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
           for r in tl.ivm_view(spark, emissions).collect()}
    want = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
            for r in tl.snapshot_read_mor(spark, d)
            .groupBy("o_orderpriority").agg(
                tl.F.count("*").cast("long").alias("n_orders"),
                tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                .alias("sum_cents")).collect()}
    assert got == want


def test_full_lakehouse_lifecycle_composes(spark, tmp_path):
    """The capstone composition: one table driven through the entire
    round-12..14 surface in sequence — append, MERGE, UPDATE WHERE,
    rename under mapping, MOR delete, materialize, RESTORE both
    directions around the materialization, OPTIMIZE ZORDER, vacuum,
    expire, TIMESTAMP AS OF, TBLPROPERTIES, DESCRIBE DETAIL,
    and a post-expiry SHALLOW CLONE — with the running row-count/cents
    invariant checked at every step and time travel spot-checked
    across the whole story."""
    import pytest

    from gemmsql.datamodel import load_table

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "life")
    shutil.copytree(src_tbl, d)
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    width = mx // 8 + 1
    b = lambda k: tl.F.expr(f"o_orderkey div {width}") == k  # noqa: E731

    def n(df):
        return df.count()

    n0 = n(tl.snapshot_read(spark, d))                        # v3 state
    # v4: MERGE (updates bucket 2, inserts bucket 7)
    v_merge = tl.merge_table(spark, d, tl._merge_source(spark, SF_SMOKE))
    n_ins = n(orders.filter(b(7)))
    assert n(tl.snapshot_read(spark, d)) == n0 + n_ins
    # v5: UPDATE WHERE (CoW) — row counts invariant by construction
    tl.update_where_cow(
        spark, d, "o_orderstatus = 'F' AND o_orderkey % 11 = 0",
        {"o_totalprice": "o_totalprice + 1"})
    assert n(tl.snapshot_read(spark, d)) == n0 + n_ins
    # v6: RENAME under mapping (metadata only)
    v_ren = tl.rename_column(spark, d, "o_orderpriority", "priority")
    cur = tl.snapshot_read_mapped(spark, d)
    assert "priority" in cur.columns and n(cur) == n0 + n_ins
    # v6: MOR positional delete through the mapped table
    pred = "o_orderstatus = 'F' AND o_orderkey % 5 = 0"
    n_hit = n(tl.snapshot_read_mapped(spark, d).filter(pred))
    assert n_hit > 0
    tl.delete_positions_mor(spark, d, pred)
    live_n = n0 + n_ins - n_hit
    mor = tl.snapshot_read_mor_mapped(spark, d)
    assert "priority" in mor.columns
    assert n(mor) == live_n
    # v8: MATERIALIZE back to copy-on-write
    v_mat = tl.materialize_deletes(spark, d)
    assert n(tl.snapshot_read_mapped(spark, d)) == live_n
    # RESTORE both directions around the materialization: back to
    # the MOR version (the posdel file is LIVE again, zero data
    # moved), then forward to the copy-on-write state
    tl.restore_table(spark, d, v_mat - 1)
    assert n(tl.snapshot_read_mor_mapped(spark, d)) == live_n
    assert sr.snapshot_delete_files(spark, d).count() == 1
    tl.restore_table(spark, d, v_mat)
    assert n(tl.snapshot_read_mapped(spark, d)) == live_n
    assert sr.snapshot_delete_files(spark, d).count() == 0
    # OPTIMIZE ZORDER in place (dest pattern needs a fresh dir)
    d2 = str(tmp_path / "life_opt")
    tl.optimize_table(spark, d, d2, n_files=3,
                      zorder_by=("o_orderkey", "o_totalprice"))
    latest = int(tl.read_log(spark, d2).agg(tl.F.max("v"))
                 .collect()[0][0])
    assert tl.version_diff_dir(spark, d2, latest - 1, latest).count() == 0
    assert n(tl.snapshot_read_mapped(spark, d2)) == live_n
    # BEFORE maintenance: time travel to the merge version answers
    # under its ORIGINAL (pre-rename) column names
    at_merge = tl.snapshot_read_mapped(spark, d2, v_merge)
    assert "o_orderpriority" in at_merge.columns
    assert n(at_merge) == n0 + n_ins
    # VACUUM the dead files: v_merge drops below the data horizon
    # (its files are dead at latest) and now fails LOUDLY
    assert len(tl.vacuum_table(spark, d2)) > 0
    with pytest.raises(ValueError, match="vacuumed"):
        tl.snapshot_read_mapped(spark, d2, v_merge)
    # EXPIRE the log past the merge — the metadata-carrying
    # checkpoint keeps mapping + protocol alive at latest
    tl.expire_log(spark, d2, v_merge + 1)
    assert n(tl.snapshot_read_mapped(spark, d2)) == live_n
    assert tl.required_reader_features(d2) == {"column_mapping"}
    with pytest.raises(ValueError, match="column_mapping"):
        tl.snapshot_read(spark, d2)
    # TIMESTAMP AS OF across the whole story: "now" resolves to the
    # latest version; a timestamp below the expiry horizon refuses
    import time

    assert tl.version_at_timestamp(d2, time.time() + 60) == \
        max(tl._present_versions(d2))
    with pytest.raises(ValueError, match="predates"):
        tl.version_at_timestamp(d2, 0.0)
    # SECOND-SESSION surfaces composed on the same table: properties
    # land post-expiry, DESCRIBE DETAIL reads the final state, and a
    # shallow CLONE of the expired+vacuumed+mapped table still reads
    # identically (live set from the checkpoint-aware replay, zero
    # bytes copied)
    tl.set_table_properties(d2, {"tier": "gold"})
    det = tl.table_detail(spark, d2).collect()[0]
    assert det["column_mapping"] and det["n_delete_files"] == 0
    assert det["n_rows"] == live_n
    c = str(tmp_path / "life_clone")
    tl.clone_table(spark, d2, c)
    assert tl.table_properties(spark, c) == {"tier": "gold"}
    assert n(tl.snapshot_read_mapped(spark, c)) == live_n
    assert tl.required_reader_features(c) == {"column_mapping"}


# --------------------------------------------------- UPDATE WHERE (CoW)

def _fixture_copy(spark, tmp_path, name):
    src = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / name)
    shutil.copytree(src, d)
    return d


def _bucket_width(spark):
    from gemmsql.datamodel import load_table

    mx = load_table(spark, SF_SMOKE, "orders").agg(
        tl.F.max("o_orderkey")).collect()[0][0]
    return mx // 8 + 1


def test_update_where_cow_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write UPDATE: only files CONTAINING matches rewrite,
    row counts are invariant, the SET is simultaneous-assignment
    against the pre-update row, and time travel below the update is
    intact."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "cowupd")
    width = _bucket_width(spark)
    pred = f"o_orderkey div {width} = 2 AND o_orderstatus = 'F'"
    before = tl.snapshot_read(spark, d)
    n_all = before.count()
    n_hit = before.filter(pred).count()
    assert n_hit > 0
    cents0 = before.agg(
        tl.F.sum(tl.F.expr(tl._CENTS))).collect()[0][0]
    v = tl.update_where_cow(spark, d, pred, {
        "o_totalprice": "o_totalprice + 1",
        "o_orderpriority": "'9-UPDATED'",
    })
    log = tl.read_log(spark, d).filter(f"v = {v}").collect()
    removes = sorted(r["path"] for r in log if r["a"] == "remove")
    assert removes == ["A2.parquet"]  # exact-touch: one file rewrote
    after = tl.snapshot_read(spark, d)
    assert after.count() == n_all  # UPDATE never changes row counts
    assert after.filter("o_orderpriority = '9-UPDATED'").count() == n_hit
    # +1 dollar per hit = exactly +100 cents per hit (quantizer-safe)
    cents1 = after.agg(tl.F.sum(tl.F.expr(tl._CENTS))).collect()[0][0]
    assert cents1 == cents0 + 100 * n_hit
    # time travel below the update: untouched
    assert tl.snapshot_read(spark, d, v - 1).filter(
        "o_orderpriority = '9-UPDATED'").count() == 0
    with pytest.raises(ValueError, match="matched no rows"):
        tl.update_where_cow(spark, d, "o_orderkey < 0",
                            {"o_totalprice": "0"})
    with pytest.raises(ValueError, match="unknown columns"):
        tl.update_where_cow(spark, d, pred, {"nope": "1"})


def test_update_rejects_constraint_violations(spark, tmp_path):
    """Commit-time CHECK enforcement on the UPDATED rows: an UPDATE
    that would write a violating value rejects whole — nothing
    commits, nothing lands."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "cowupdck")
    width = _bucket_width(spark)
    pred = f"o_orderkey div {width} = 2 AND o_orderstatus = 'F'"
    tl.add_check_constraint(d, "pos_price", "o_totalprice > 0")
    v_before = max(tl._present_versions(d))
    with pytest.raises(ValueError, match="violate"):
        tl.update_where_cow(spark, d, pred, {"o_totalprice": "-1"})
    assert max(tl._present_versions(d)) == v_before  # nothing landed
    # a compliant update still passes the same constraint
    v = tl.update_where_cow(spark, d, pred,
                            {"o_totalprice": "o_totalprice + 1"})
    assert v == v_before + 1


def test_update_under_column_mapping(spark, tmp_path):
    """UPDATE on a column-mapped table speaks LOGICAL names in both
    the predicate and the SET; rewrites land under frozen physical
    names carrying only mapped columns (the merge-under-mapping
    rewrite semantics)."""
    src = tl.stage_mapped_table(spark, SF_SMOKE)
    d = str(tmp_path / "updmap")
    shutil.copytree(src, d)
    width = _bucket_width(spark)
    cur = tl.snapshot_read_mapped(spark, d)
    assert "priority" in cur.columns
    assert "o_orderstatus" not in cur.columns
    n_all = cur.count()
    pred = f"o_orderkey div {width} = 2 AND priority = '1-URGENT'"
    n_hit = cur.filter(pred).count()
    assert n_hit > 0
    v = tl.update_where_cow(spark, d, pred, {"priority": "'0-UPDATED'"})
    log = tl.read_log(spark, d).filter(f"v = {v}").collect()
    removes = sorted(r["path"] for r in log if r["a"] == "remove")
    assert removes == ["A2.parquet"]
    after = tl.snapshot_read_mapped(spark, d)
    assert after.count() == n_all
    assert after.filter("priority = '0-UPDATED'").count() == n_hit
    assert after.filter(pred).count() == 0
    # time travel below the RENAME still answers under the old name
    at3 = tl.snapshot_read_mapped(spark, d, 3)
    assert "o_orderpriority" in at3.columns
    assert at3.filter("o_orderpriority = '0-UPDATED'").count() == 0


def test_update_mid_stream_applies_to_ivm(spark, tmp_path):
    """An update_where_cow commit lands mid-stream and the maintained
    view applies the value change through the signed remove+add
    deltas — the view hash-equals the batch recompute."""
    d = _fixture_copy(spark, tmp_path, "updstream")
    ckpt = str(tmp_path / "ckpt")
    emissions = str(tmp_path / "emissions")
    tl.ivm_drain(spark, d, ckpt, emissions)
    tl.update_where_cow(
        spark, d, "o_orderstatus = 'F' AND o_orderkey % 7 = 0",
        {"o_totalprice": "o_totalprice * 2"},
    )
    tl.ivm_drain(spark, d, ckpt, emissions)
    got = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
           for r in tl.ivm_view(spark, emissions).collect()}
    want = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
            for r in tl.snapshot_read(spark, d)
            .groupBy("o_orderpriority").agg(
                tl.F.count("*").cast("long").alias("n_orders"),
                tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                .alias("sum_cents")).collect()}
    assert got == want


# ------------------------------------------------------------ RESTORE

def test_restore_lifecycle(spark, tmp_path):
    """RESTORE TO VERSION: rollback as a forward commit — the
    restored live set equals the target's exactly, ZERO data bytes
    move (every re-add names a pre-existing file), the rolled-back
    versions stay time-travelable, and degenerate targets refuse."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "restore")
    width = _bucket_width(spark)
    pred = f"o_orderkey div {width} = 2 AND o_orderstatus = 'F'"
    base = tl.snapshot_read(spark, d)
    n3 = base.count()
    cents3 = base.agg(tl.F.sum(tl.F.expr(tl._CENTS))).collect()[0][0]
    n_hit = base.filter(pred).count()
    v_del = tl.delete_where_cow(spark, d, pred)  # v4
    assert tl.snapshot_read(spark, d).count() == n3 - n_hit
    with pytest.raises(ValueError, match="not below"):
        tl.restore_table(spark, d, v_del)
    v_res = tl.restore_table(spark, d, 3)  # v5
    after = tl.snapshot_read(spark, d)
    assert after.count() == n3
    assert after.agg(
        tl.F.sum(tl.F.expr(tl._CENTS))).collect()[0][0] == cents3
    assert _live(spark, d) == _live(spark, d, 3)  # exact file set
    # zero data bytes moved: every add at v_res names a v3-live file
    log = tl.read_log(spark, d).filter(f"v = {v_res}").collect()
    adds = sorted(r["path"] for r in log if r["a"] == "add")
    assert adds and set(adds) <= set(_live(spark, d, 3))
    # re-adds carry the ORIGINAL stats (skip-planning stays precise)
    v3_stats = {r["path"]: (r["n_rows"], r["min_key"], r["max_key"])
                for r in sr.snapshot_files(spark, d, 3).collect()}
    for r in log:
        if r["a"] == "add":
            assert (r["n_rows"], r["min_key"], r["max_key"]) == \
                v3_stats[r["path"]]
    # the rolled-back version is still history, not erased
    assert tl.snapshot_read(spark, d, v_del).count() == n3 - n_hit
    # restoring to the state we're already in refuses loudly
    with pytest.raises(ValueError, match="no-op"):
        tl.restore_table(spark, d, 3)


def test_restore_reinstates_mor_state(spark, tmp_path):
    """RESTORE moves delete-file liveness BOTH directions: back below
    a keydel retires it (the MOR view heals), and restoring TO the
    keydel version re-instates the delete file without touching
    data."""
    d = _fixture_copy(spark, tmp_path, "restoremor")
    n3 = tl.snapshot_read(spark, d).count()
    keys = tl.snapshot_read(spark, d).filter(
        "o_orderstatus = 'F' AND o_orderkey % 3 = 0"
    ).select("o_orderkey").distinct()
    n_del = keys.count()
    assert n_del > 0
    v_kd = tl.delete_keys_mor(spark, d, keys)
    n_mor = tl.snapshot_read_mor(spark, d).count()
    assert n_mor < n3
    tl.restore_table(spark, d, v_kd - 1)
    assert tl.snapshot_read_mor(spark, d).count() == n3
    assert sr.snapshot_delete_files(spark, d).count() == 0
    tl.restore_table(spark, d, v_kd)
    assert tl.snapshot_read_mor(spark, d).count() == n_mor
    assert sr.snapshot_delete_files(spark, d).count() == 1


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    """The missing-files check: a restore whose re-adds were
    physically vacuumed aborts BEFORE committing anything."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "restorevac")
    width = _bucket_width(spark)
    v_del = tl.delete_where_cow(
        spark, d, f"o_orderkey div {width} = 2 AND o_orderstatus = 'F'")
    assert "A2.parquet" in tl.vacuum_table(spark, d)
    v_latest = max(tl._present_versions(d))
    with pytest.raises(ValueError, match="vacuumed"):
        tl.restore_table(spark, d, v_del - 1)
    assert max(tl._present_versions(d)) == v_latest  # nothing landed


def test_restore_mid_stream_flows_through_ivm(spark, tmp_path):
    """A restore commit lands mid-stream and the maintained view
    rolls back with it — removes and re-adds flow through the same
    signed-delta expansion as any other commit."""
    d = _fixture_copy(spark, tmp_path, "restorestream")
    width = _bucket_width(spark)
    ckpt = str(tmp_path / "ckpt")
    emissions = str(tmp_path / "emissions")
    tl.ivm_drain(spark, d, ckpt, emissions)
    v_del = tl.delete_where_cow(
        spark, d, f"o_orderkey div {width} = 2 AND o_orderstatus = 'F'")
    tl.ivm_drain(spark, d, ckpt, emissions)
    tl.restore_table(spark, d, v_del - 1)
    tl.ivm_drain(spark, d, ckpt, emissions)
    got = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
           for r in tl.ivm_view(spark, emissions).collect()}
    want = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
            for r in tl.snapshot_read(spark, d)
            .groupBy("o_orderpriority").agg(
                tl.F.count("*").cast("long").alias("n_orders"),
                tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                .alias("sum_cents")).collect()}
    assert got == want


# ------------------------------------------------- TIMESTAMP AS OF

def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: commit mtimes resolve to versions with the
    Delta monotonic adjustment; reads at a timestamp equal the reads
    at its resolved version; a timestamp below the earliest retained
    commit refuses."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "tstravel")
    base_ts = 1_700_000_000
    for v in range(4):
        os.utime(os.path.join(d, tl.LOG_SUBDIR, f"{v:08d}.json"),
                 (base_ts + v * 100,) * 2)
    assert tl.version_at_timestamp(d, base_ts) == 0
    assert tl.version_at_timestamp(d, base_ts + 150) == 1
    assert tl.version_at_timestamp(d, base_ts + 300) == 3
    assert tl.version_at_timestamp(d, base_ts + 10**6) == 3
    with pytest.raises(ValueError, match="predates"):
        tl.version_at_timestamp(d, base_ts - 1)
    for ts, v in ((base_ts + 150, 1), (base_ts + 250, 2)):
        assert (tl.snapshot_read_at_timestamp(spark, d, ts).count()
                == tl.snapshot_read(spark, d, v).count())
    # monotonic adjustment (writer clock skew): v2's mtime is set
    # BEFORE v1's, so v2 adopts v1's effective timestamp — a later
    # version can never resolve earlier than its predecessor
    os.utime(os.path.join(d, tl.LOG_SUBDIR, "00000002.json"),
             (base_ts + 50,) * 2)
    assert tl.version_at_timestamp(d, base_ts + 150) == 2
    assert tl.version_at_timestamp(d, base_ts + 50) == 0


# -------------------------------------------------------- SHALLOW CLONE

def test_clone_is_zero_copy_and_reads_equal(spark, tmp_path):
    """A shallow clone reads identically to its source, references
    the SAME bytes (hard links — no copy), and carries the original
    per-file stats."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "clonesrc")
    c = str(tmp_path / "clonedst")
    tl.clone_table(spark, d, c)
    assert (tl.snapshot_read(spark, c).count()
            == tl.snapshot_read(spark, d).count())
    assert _live(spark, c) == _live(spark, d)
    # zero-copy: every cloned file is the same inode as the source's
    for p in _live(spark, c):
        src = os.stat(os.path.join(d, tl.DATA_SUBDIR, p))
        dst = os.stat(os.path.join(c, tl.DATA_SUBDIR, p))
        assert (src.st_ino, src.st_dev) == (dst.st_ino, dst.st_dev)
        assert src.st_nlink >= 2
    # stats cloned intact
    src_stats = {r["path"]: (r["n_rows"], r["min_key"], r["max_key"])
                 for r in sr.snapshot_files(spark, d).collect()}
    dst_stats = {r["path"]: (r["n_rows"], r["min_key"], r["max_key"])
                 for r in sr.snapshot_files(spark, c).collect()}
    assert src_stats == dst_stats
    # the clone's history starts at the clone: one version, v0
    assert tl._present_versions(c) == [0]
    with pytest.raises(ValueError, match="destination exists"):
        tl.clone_table(spark, d, c)


def test_clone_evolves_independently(spark, tmp_path):
    """Post-clone writes diverge: a delete on the clone leaves the
    source untouched, and vacuum on the clone unlinks only its own
    directory entry — the source still reads its bytes."""
    d = _fixture_copy(spark, tmp_path, "divsrc")
    c = str(tmp_path / "divdst")
    tl.clone_table(spark, d, c)
    n_src = tl.snapshot_read(spark, d).count()
    width = _bucket_width(spark)
    pred = f"o_orderkey div {width} = 2 AND o_orderstatus = 'F'"
    n_hit = tl.snapshot_read(spark, c).filter(pred).count()
    tl.delete_where_cow(spark, c, pred)
    assert tl.snapshot_read(spark, c).count() == n_src - n_hit
    assert tl.snapshot_read(spark, d).count() == n_src  # untouched
    # vacuum the clone: A2 is dead THERE; the shared inode survives
    # through the source's link
    assert "A2.parquet" in tl.vacuum_table(spark, c)
    assert not os.path.exists(os.path.join(c, tl.DATA_SUBDIR,
                                           "A2.parquet"))
    assert os.path.exists(os.path.join(d, tl.DATA_SUBDIR, "A2.parquet"))
    assert tl.snapshot_read(spark, d).count() == n_src


def test_clone_carries_metadata_and_mor_state(spark, tmp_path):
    """Cloning a column-mapped table with live MOR deletes and a
    CHECK constraint: the clone enforces the constraint, gates old
    readers, answers under logical names, and subtracts the cloned
    delete files — all from its single v0 commit."""
    import pytest

    src = tl.stage_mapped_table(spark, SF_SMOKE)
    d = str(tmp_path / "mapsrc")
    shutil.copytree(src, d)
    tl.add_check_constraint(d, "pos_price", "o_totalprice > 0")
    keys = tl.snapshot_read_mapped(spark, d).filter(
        "o_orderkey % 13 = 0").select("o_orderkey").distinct()
    tl.delete_keys_mor(spark, d, keys)
    n_mor = tl.snapshot_read_mor_mapped(spark, d).count()
    c = str(tmp_path / "mapdst")
    tl.clone_table(spark, d, c)
    got = tl.snapshot_read_mor_mapped(spark, c)
    assert "priority" in got.columns
    assert got.count() == n_mor
    assert tl.required_reader_features(c) == {"column_mapping"}
    with pytest.raises(ValueError, match="column_mapping"):
        tl.snapshot_read(spark, c)
    assert tl.table_constraints(spark, c) == {
        "pos_price": "o_totalprice > 0"}
    bad = tl.snapshot_read_mor_mapped(spark, c).limit(1).withColumn(
        "o_totalprice", tl.F.lit(-5.0))
    with pytest.raises(ValueError, match="violate"):
        tl.constrained_append(spark, c, bad, "BAD.parquet")


def test_delete_where_cow_under_column_mapping(spark, tmp_path):
    """DELETE WHERE on a column-mapped table: the predicate speaks
    LOGICAL names, only containing files rewrite, and rewritten
    files carry ONLY mapped physical columns — a dropped column's
    bytes do not propagate into post-drop rewrites."""
    src = tl.stage_mapped_table(spark, SF_SMOKE)
    d = str(tmp_path / "delmap")
    shutil.copytree(src, d)
    width = _bucket_width(spark)
    cur = tl.snapshot_read_mapped(spark, d)
    n_all = cur.count()
    pred = f"o_orderkey div {width} = 2 AND priority = '1-URGENT'"
    n_hit = cur.filter(pred).count()
    assert n_hit > 0
    v = tl.delete_where_cow(spark, d, pred)
    log = tl.read_log(spark, d).filter(f"v = {v}").collect()
    removes = sorted(r["path"] for r in log if r["a"] == "remove")
    assert removes == ["A2.parquet"]
    adds = sorted(r["path"] for r in log if r["a"] == "add")
    after = tl.snapshot_read_mapped(spark, d)
    assert after.count() == n_all - n_hit
    assert after.filter(pred).count() == 0
    # the rewrite landed under frozen PHYSICAL names, WITHOUT the
    # dropped o_orderstatus column (merge-under-mapping semantics)
    raw = spark.read.parquet(
        os.path.join(d, tl.DATA_SUBDIR, adds[0]))
    assert "o_orderpriority" in raw.columns  # frozen physical name
    assert "o_orderstatus" not in raw.columns  # dropped: not dragged
    # time travel below the delete still carries the dropped bytes
    at3 = tl.snapshot_read(spark, d, 3)
    assert "o_orderstatus" in at3.columns


def test_posdel_under_column_mapping(spark, tmp_path):
    """Positional MOR delete on a column-mapped table: the predicate
    speaks LOGICAL names; positions are vocabulary-free so the read
    path subtracts them unchanged."""
    src = tl.stage_mapped_table(spark, SF_SMOKE)
    d = str(tmp_path / "pdmap")
    shutil.copytree(src, d)
    cur = tl.snapshot_read_mapped(spark, d)
    n_all = cur.count()
    pred = "priority = '1-URGENT' AND o_orderkey % 2 = 0"
    n_hit = cur.filter(pred).count()
    assert n_hit > 0
    tl.delete_positions_mor(spark, d, pred)
    got = tl.snapshot_read_mor_mapped(spark, d)
    assert got.count() == n_all - n_hit
    assert got.filter(pred).count() == 0


# --------------------------------------------------- WRITER PROTOCOL

def test_writer_feature_gating(spark, tmp_path):
    """The writer half of the protocol action (Delta's writer
    features): the first CHECK constraint and the first mapping
    commit each demand their writer feature, a legacy writer that
    doesn't implement them refuses at the commit choke point, and
    the demands survive log expiry through the metadata-carrying
    checkpoint."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "wfeat")
    assert tl.required_writer_features(d) == set()
    # a pre-feature table accepts ANY writer
    tl.commit_actions(d, [{"a": "remove", "path": "E0.parquet"}],
                      writer_features=frozenset())
    tl.add_check_constraint(d, "pos_price", "o_totalprice > 0")
    assert tl.required_writer_features(d) == {"check_constraints"}
    # readers are NOT gated by a constraint (reads stay open)
    assert tl.required_reader_features(d) == set()
    # a legacy writer now refuses, loudly, before anything lands
    v_before = max(tl._present_versions(d))
    with pytest.raises(ValueError, match="writer features"):
        tl.commit_actions(d, [{"a": "remove", "path": "D0.parquet"}],
                          writer_features=frozenset())
    assert max(tl._present_versions(d)) == v_before
    # a current writer commits fine
    tl.commit_actions(d, [{"a": "remove", "path": "D0.parquet"}])
    # the first mapping commit demands BOTH halves
    tl.rename_column(spark, d, "o_orderpriority", "priority")
    assert tl.required_writer_features(d) == {
        "check_constraints", "column_mapping"}
    assert tl.required_reader_features(d) == {"column_mapping"}
    with pytest.raises(ValueError, match="writer features"):
        tl.commit_actions(d, [{"a": "remove", "path": "C0.parquet"}],
                          writer_features=frozenset({"column_mapping"}))
    # the demands survive expiry past the feature-introducing commits
    latest = max(tl._present_versions(d))
    tl.expire_log(spark, d, latest)
    assert tl.required_writer_features(d) == {
        "check_constraints", "column_mapping"}
    assert tl.table_constraints(spark, d) == {
        "pos_price": "o_totalprice > 0"}
    # a clone of the gated table carries the writer demands
    c = str(tmp_path / "wfeatclone")
    tl.clone_table(spark, d, c)
    assert tl.required_writer_features(c) == {
        "check_constraints", "column_mapping"}
    with pytest.raises(ValueError, match="writer features"):
        tl.commit_actions(c, [{"a": "remove", "path": "C0.parquet"}],
                          writer_features=frozenset())


def test_update_surfaces_in_change_feed_as_update_pairs(spark, tmp_path):
    """The CDF composition pin for UPDATE: the change feed across an
    update_where_cow version is exactly n_hit update_pre + n_hit
    update_post rows — never deletes or inserts — because the key
    survives both sides with a changed row."""
    d = _fixture_copy(spark, tmp_path, "updcdf")
    width = _bucket_width(spark)
    pred = f"o_orderkey div {width} = 2 AND o_orderstatus = 'F'"
    n_hit = tl.snapshot_read(spark, d).filter(pred).count()
    v = tl.update_where_cow(spark, d, pred,
                            {"o_totalprice": "o_totalprice + 1"})
    feed = tl.version_diff_dir(spark, d, v - 1, v)
    by_kind = {r["change"]: r["n"] for r in feed.groupBy("change")
               .agg(tl.F.count("*").alias("n")).collect()}
    assert by_kind == {"update_pre": n_hit, "update_post": n_hit}


def test_table_detail_describes_current_state(spark, tmp_path):
    """DESCRIBE DETAIL: the one-row summary tracks versions, live
    counts, MOR debt, constraints, mapping, and both protocol
    halves as the table evolves."""
    d = _fixture_copy(spark, tmp_path, "detail")
    r = tl.table_detail(spark, d).collect()[0]
    live = sr.snapshot_files(spark, d).collect()
    assert r["version"] == 3
    assert r["n_live_files"] == len(live)
    assert r["n_rows"] == sum(x["n_rows"] for x in live)
    assert r["n_bytes"] == sum(x["n_bytes"] for x in live)
    assert r["n_delete_files"] == 0
    assert r["n_constraints"] == 0
    assert not r["column_mapping"]
    assert list(r["reader_features"]) == []
    assert list(r["writer_features"]) == []
    # evolve: constraint, MOR delete, rename — the row follows
    tl.add_check_constraint(d, "pos_price", "o_totalprice > 0")
    keys = tl.snapshot_read(spark, d).filter(
        "o_orderkey % 17 = 0").select("o_orderkey").distinct()
    tl.delete_keys_mor(spark, d, keys)
    tl.rename_column(spark, d, "o_orderpriority", "priority")
    r2 = tl.table_detail(spark, d).collect()[0]
    assert r2["version"] == 6
    assert r2["n_delete_files"] == 1
    assert r2["n_constraints"] == 1
    assert r2["column_mapping"]
    assert list(r2["reader_features"]) == ["column_mapping"]
    assert list(r2["writer_features"]) == [
        "check_constraints", "column_mapping"]


# ------------------------------------------- MOR CORRECTNESS GUARDS

def test_rewrites_refuse_live_delete_files(spark, tmp_path):
    """Every data-file-rewriting op (MERGE, UPDATE, DELETE CoW,
    OPTIMIZE) refuses while delete files are live: a rewrite would
    break positional (file, pos) references and lift rows above the
    equality-delete sequence horizon — both silent resurrection.
    materialize_deletes clears the state and the ops work again."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "morguard")
    width = _bucket_width(spark)
    tl.delete_positions_mor(
        spark, d, "o_orderstatus = 'F' AND o_orderkey % 7 = 0")
    pred = f"o_orderkey div {width} = 2 AND o_orderstatus = 'F'"
    with pytest.raises(ValueError, match="live delete files"):
        tl.update_where_cow(spark, d, pred, {"o_totalprice": "0.01"})
    with pytest.raises(ValueError, match="live delete files"):
        tl.delete_where_cow(spark, d, pred)
    with pytest.raises(ValueError, match="live delete files"):
        tl.merge_table(spark, d, tl._merge_source(spark, SF_SMOKE))
    with pytest.raises(ValueError, match="live delete files"):
        tl.optimize_table(spark, d, str(tmp_path / "optdst"))
    tl.materialize_deletes(spark, d)
    assert tl.delete_where_cow(spark, d, pred) > 0  # works again


def test_equality_delete_sequence_rule(spark, tmp_path):
    """The Iceberg v2 sequence rule, pinned end to end: a key
    re-appended AFTER its equality delete is a NEW row — visible in
    the MOR read, preserved by materialization, and in agreement
    with the streaming IVM view (whose keydel expansion always
    replayed only the lives below the delete)."""
    d = _fixture_copy(spark, tmp_path, "morseq")
    ckpt = str(tmp_path / "ckpt")
    emissions = str(tmp_path / "emissions")
    tl.ivm_drain(spark, d, ckpt, emissions)
    base = tl.snapshot_read(spark, d)
    n_before = base.count()
    # delete one concrete key, then re-append a row with THE SAME key
    row = base.filter("o_orderstatus = 'F'").orderBy(
        "o_orderkey").limit(1)
    k = row.collect()[0]["o_orderkey"]
    n_k = base.filter(f"o_orderkey = {k}").count()
    tl.delete_keys_mor(
        spark, d, base.filter(f"o_orderkey = {k}")
        .select("o_orderkey").distinct())
    assert tl.snapshot_read_mor(spark, d) \
        .filter(f"o_orderkey = {k}").count() == 0
    tl.constrained_append(
        spark, d, row.withColumn("o_orderpriority",
                                 tl.F.lit("9-REBORN")),
        "REBORN.parquet")
    # the re-appended row is NEW — above the delete's sequence
    # horizon — while the original rows stay deleted
    mor = tl.snapshot_read_mor(spark, d)
    reborn = mor.filter(f"o_orderkey = {k}").collect()
    assert len(reborn) == 1
    assert reborn[0]["o_orderpriority"] == "9-REBORN"
    assert mor.count() == n_before - n_k + 1
    # the streaming view agrees (its expansion always sequenced)
    tl.ivm_drain(spark, d, ckpt, emissions)
    got = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
           for r in tl.ivm_view(spark, emissions).collect()}
    want = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
            for r in mor.groupBy("o_orderpriority").agg(
                tl.F.count("*").cast("long").alias("n_orders"),
                tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                .alias("sum_cents")).collect()}
    assert got == want
    # materialization drops exactly what the MOR read hides: the
    # reborn row survives, the file added after the delete is
    # never rewritten
    before = {tuple(r) for r in mor.collect()}
    v_mat = tl.materialize_deletes(spark, d)
    log_m = tl.read_log(spark, d).filter(f"v = {v_mat}").collect()
    removes = {r["path"] for r in log_m if r["a"] == "remove"}
    assert "REBORN.parquet" not in removes
    assert {tuple(r) for r in
            tl.snapshot_read(spark, d).collect()} == before


# ------------------------------------------------ TBLPROPERTIES

def test_table_properties_lifecycle(spark, tmp_path):
    """SET/UNSET TBLPROPERTIES: latest action per key wins, unsets
    are versioned history (properties AS OF an older version still
    answer), and properties survive log expiry through the
    metadata-carrying checkpoint."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "props")
    assert tl.table_properties(spark, d) == {}
    v1 = tl.set_table_properties(d, {"owner": "etl", "tier": "gold"})
    assert tl.table_properties(spark, d) == {
        "owner": "etl", "tier": "gold"}
    tl.set_table_properties(d, {"tier": "silver"})  # override
    tl.unset_table_properties(d, ["owner"])
    assert tl.table_properties(spark, d) == {"tier": "silver"}
    # AS OF: the first property version still answers in full
    assert tl.table_properties(spark, d, v1) == {
        "owner": "etl", "tier": "gold"}
    with pytest.raises(ValueError, match="no properties"):
        tl.set_table_properties(d, {})
    # survive expiry via the checkpoint
    latest = max(tl._present_versions(d))
    tl.expire_log(spark, d, latest)
    assert tl.table_properties(spark, d) == {"tier": "silver"}


def test_vacuum_retention_protects_time_travel(spark, tmp_path):
    """Vacuum retention (Delta's deletedFileRetentionDuration, in
    versions): with retain_versions=1 the newest below-latest
    version keeps its files and stays time-travelable; retain 0
    reclaims them and the read below the horizon fails loudly.  The
    table property drives the default; the explicit argument
    overrides."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "vacret")
    width = _bucket_width(spark)
    n3 = tl.snapshot_read(spark, d).count()
    v_del = tl.delete_where_cow(
        spark, d, f"o_orderkey div {width} = 2 AND o_orderstatus = 'F'")
    # property-driven: retain one below-latest version -> A2 survives
    tl.set_table_properties(d, {"vacuum.retain_versions": "2"})
    plan = {r["path"] for r in tl.vacuum_plan(spark, d).collect()}
    assert "A2.parquet" not in plan
    assert tl.vacuum_table(spark, d) == sorted(plan)
    assert tl.snapshot_read(spark, d, v_del - 1).count() == n3
    # explicit override: retain nothing below latest -> A2 reclaimed
    deleted = tl.vacuum_table(spark, d, retain_versions=0)
    assert "A2.parquet" in deleted
    with pytest.raises(ValueError, match="vacuumed"):
        tl.snapshot_read(spark, d, v_del - 1)
    assert tl.snapshot_read(spark, d).count() == \
        tl.snapshot_read(spark, d, v_del).count()


# ---------------------------------------- DuckDB parity (library DML)

def test_update_restore_hash_parity_with_duckdb(spark, tmp_path):
    """Oracle-grade trust for the new DML without a gate slot: the
    per-priority rollup after an UPDATE, and again after a RESTORE,
    hash-equal an independent DuckDB recompute from the raw orders
    parquet (the same order-insensitive value hash the driver's
    correctness gate uses)."""
    import hashlib

    import duckdb

    def _norm(v):
        if isinstance(v, float):
            return repr(round(v, 6))
        return repr(v)

    def _hash(pdf):
        cols = sorted(pdf.columns)
        rows = sorted(
            "|".join(_norm(v) for v in row)
            for row in pdf[cols].itertuples(index=False)
        )
        h = hashlib.sha256()
        for r in rows:
            h.update(r.encode() + b"\n")
        return h.hexdigest()

    d = _fixture_copy(spark, tmp_path, "dmlparity")
    w = _bucket_width(spark)
    pred = f"o_orderkey div {w} = 2 AND o_orderstatus = 'F'"
    v_upd = tl.update_where_cow(
        spark, d, pred, {"o_totalprice": "o_totalprice + 2.5"})

    def _rollup():
        return (
            tl.snapshot_read(spark, d)
            .groupBy("o_orderpriority")
            .agg(tl.F.count("*").cast("long").alias("n_orders"),
                 tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                 .alias("sum_cents"))
            .toPandas()
        )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_SMOKE}/orders.parquet'"
    )
    # the fixture's v3 live rows, derived independently: buckets 0-6,
    # minus bucket-4 status-'F' rows (the staged lifecycle's delete)
    v3 = f"""
        SELECT * FROM orders
        WHERE o_orderkey // {w} <= 6
          AND NOT (o_orderkey // {w} = 4 AND o_orderstatus = 'F')
    """
    upd_sql = f"""
        WITH v3 AS ({v3}), upd AS (
          SELECT o_orderpriority,
                 CASE WHEN o_orderkey // {w} = 2
                       AND o_orderstatus = 'F'
                      THEN o_totalprice + 2.5
                      ELSE o_totalprice END AS p
          FROM v3)
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(floor(p * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM upd GROUP BY 1
    """
    assert _hash(_rollup()) == _hash(con.execute(upd_sql).df())
    # RESTORE back below the update: the rollup equals the plain v3
    # recompute again
    tl.restore_table(spark, d, v_upd - 1)
    v3_sql = f"""
        WITH v3 AS ({v3})
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS sum_cents
        FROM v3 GROUP BY 1
    """
    assert _hash(_rollup()) == _hash(con.execute(v3_sql).df())
    con.close()


def test_restore_sequencing_with_live_keydel(spark, tmp_path):
    """The trickiest restore/MOR interaction, traced and pinned: a
    file appended AFTER a live equality delete, removed by a restore
    (it wasn't live at the target), then brought back by restoring
    forward again — its re-add lands above the keydel's version, so
    its rows stay un-subtracted, exactly the target state's
    semantics.  (The rewrite-refusal guards make this the only way a
    data file can die while a keydel lives, which is what keeps
    re-stamped versions sequence-safe.)"""
    d = _fixture_copy(spark, tmp_path, "restoreseq")
    base = tl.snapshot_read(spark, d)
    k = base.filter("o_orderstatus = 'F'").orderBy(
        "o_orderkey").limit(1).collect()[0]["o_orderkey"]
    tl.delete_keys_mor(
        spark, d,
        base.filter(f"o_orderkey = {k}").select("o_orderkey").distinct())
    # append a reborn row for the deleted key (above the horizon)
    row = base.filter(f"o_orderkey = {k}").limit(1).withColumn(
        "o_orderpriority", tl.F.lit("9-REBORN"))
    v_app = tl.constrained_append(spark, d, row, "REBORN2.parquet")
    n_with = tl.snapshot_read_mor(spark, d).count()
    # restore to BEFORE the append: the reborn file is removed, the
    # keydel survives untouched
    tl.restore_table(spark, d, v_app - 1)
    assert tl.snapshot_read_mor(spark, d).count() == n_with - 1
    assert sr.snapshot_delete_files(spark, d).count() == 1
    # restore FORWARD to the append version: the reborn file re-adds
    # ABOVE the keydel — visible again, original rows still deleted
    tl.restore_table(spark, d, v_app)
    mor = tl.snapshot_read_mor(spark, d)
    assert mor.count() == n_with
    got = mor.filter(f"o_orderkey = {k}").collect()
    assert [r["o_orderpriority"] for r in got] == ["9-REBORN"]


# --------------------------------- code-review regressions (r14 s2)

def test_update_constraint_check_uses_pre_update_predicate(
        spark, tmp_path):
    """Review finding 1: a SET that pushes rows OUT of its own
    predicate must not dodge CHECK validation — the hit set is
    evaluated against PRE-update values."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "updckpre")
    tl.add_check_constraint(d, "pos_price", "o_totalprice > 0")
    v_before = max(tl._present_versions(d))
    with pytest.raises(ValueError, match="violate"):
        tl.update_where_cow(spark, d, "o_totalprice > 500",
                            {"o_totalprice": "-o_totalprice"})
    assert max(tl._present_versions(d)) == v_before


def test_restore_reemitted_keydel_keeps_its_sequence(spark, tmp_path):
    """Review finding 2: restoring to a state where a keydel was
    live must not lift the re-emitted keydel above files appended
    after the original delete — the carried seq keeps the reborn
    row visible, exactly as it was at the target version."""
    d = _fixture_copy(spark, tmp_path, "kdseqres")
    base = tl.snapshot_read(spark, d)
    k = base.filter("o_orderstatus = 'F'").orderBy(
        "o_orderkey").limit(1).collect()[0]["o_orderkey"]
    tl.delete_keys_mor(
        spark, d,
        base.filter(f"o_orderkey = {k}").select("o_orderkey").distinct())
    row = base.filter(f"o_orderkey = {k}").limit(1).withColumn(
        "o_orderpriority", tl.F.lit("9-REBORN"))
    v_app = tl.constrained_append(spark, d, row, "REBORN3.parquet")
    n_at_app = tl.snapshot_read_mor(spark, d).count()
    tl.materialize_deletes(spark, d)
    # restore to the keydel-live + reborn-live state
    tl.restore_table(spark, d, v_app)
    mor = tl.snapshot_read_mor(spark, d)
    assert mor.count() == n_at_app
    got = mor.filter(f"o_orderkey = {k}").collect()
    assert [r["o_orderpriority"] for r in got] == ["9-REBORN"]


def test_clone_preserves_delete_sequencing_and_properties(
        spark, tmp_path):
    """Review findings 3 and 6: a clone's flattened v0 commit
    carries each action's ORIGINAL sequence, so a row appended
    after the source's equality delete stays visible on the clone
    (batch AND a fresh streaming IVM agree) — and TBLPROPERTIES
    clone too."""
    d = _fixture_copy(spark, tmp_path, "cloneseq")
    tl.set_table_properties(d, {"vacuum.retain_versions": "2"})
    base = tl.snapshot_read(spark, d)
    k = base.filter("o_orderstatus = 'F'").orderBy(
        "o_orderkey").limit(1).collect()[0]["o_orderkey"]
    tl.delete_keys_mor(
        spark, d,
        base.filter(f"o_orderkey = {k}").select("o_orderkey").distinct())
    row = base.filter(f"o_orderkey = {k}").limit(1).withColumn(
        "o_orderpriority", tl.F.lit("9-REBORN"))
    tl.constrained_append(spark, d, row, "REBORN4.parquet")
    c = str(tmp_path / "cloneseqdst")
    tl.clone_table(spark, d, c)
    assert tl.table_properties(spark, c) == {
        "vacuum.retain_versions": "2"}
    mor = tl.snapshot_read_mor(spark, c)
    got = mor.filter(f"o_orderkey = {k}").collect()
    assert [r["o_orderpriority"] for r in got] == ["9-REBORN"]
    assert mor.count() == tl.snapshot_read_mor(spark, d).count()
    # a FRESH streaming IVM over the clone's single commit agrees
    ckpt = str(tmp_path / "ckpt")
    emissions = str(tmp_path / "emissions")
    tl.ivm_drain(spark, c, ckpt, emissions)
    got_v = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
             for r in tl.ivm_view(spark, emissions).collect()}
    want_v = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
              for r in mor.groupBy("o_orderpriority").agg(
                  tl.F.count("*").cast("long").alias("n_orders"),
                  tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                  .alias("sum_cents")).collect()}
    assert got_v == want_v


def test_materialize_mid_stream_retires_through_ivm(spark, tmp_path):
    """The inverse expansion: a materialization commit (removes of
    data files + the delete file + MAT adds) lands mid-stream and
    the maintained view nets to exactly the surviving content —
    for BOTH delete kinds."""
    d = _fixture_copy(spark, tmp_path, "matstream")
    ckpt = str(tmp_path / "ckpt")
    emissions = str(tmp_path / "emissions")
    tl.ivm_drain(spark, d, ckpt, emissions)
    keys = tl.snapshot_read(spark, d).filter(
        "o_orderstatus = 'F' AND o_orderkey % 5 = 0"
    ).select("o_orderkey").distinct()
    tl.delete_keys_mor(spark, d, keys)
    tl.ivm_drain(spark, d, ckpt, emissions)
    tl.delete_positions_mor(
        spark, d, "o_orderstatus = 'O' AND o_orderkey % 11 = 0")
    tl.ivm_drain(spark, d, ckpt, emissions)
    tl.materialize_deletes(spark, d)
    tl.ivm_drain(spark, d, ckpt, emissions)
    got = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
           for r in tl.ivm_view(spark, emissions).collect()}
    want = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
            for r in tl.snapshot_read(spark, d)
            .groupBy("o_orderpriority").agg(
                tl.F.count("*").cast("long").alias("n_orders"),
                tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                .alias("sum_cents")).collect()}
    assert got == want


def test_restore_matches_reference_model(spark, tmp_path):
    """Property test: RESTORE to any historical version reproduces
    exactly that version's live set (or refuses as a no-op when the
    sets already match) over randomized add/remove logs — with the
    rolled-back history still replayable above the target."""
    from hypothesis import given, settings, strategies as st

    paths = [f"p{i}.parquet" for i in range(4)]

    @st.composite
    def logs(draw):
        n_versions = draw(st.integers(min_value=2, max_value=4))
        commits = {}
        for v in range(n_versions):
            acts = []
            for p in draw(st.lists(st.sampled_from(paths), min_size=1,
                                   max_size=3, unique=True)):
                if draw(st.booleans()):
                    acts.append(_add(v, p))
                else:
                    acts.append(_rm(v, p))
            commits[v] = acts
        return commits

    @settings(max_examples=8, deadline=None)
    @given(commits=logs(), data=st.data())
    def check(commits, data):
        import shutil as _sh

        import pytest as _pytest

        d = tmp_path / "resprop"
        _sh.rmtree(d, ignore_errors=True)
        dd = _mklog_at(d, commits)
        for p in paths:  # restore's missing-file check wants bytes
            open(os.path.join(dd, tl.DATA_SUBDIR, p), "w").close()
        latest = len(commits) - 1
        v = data.draw(st.integers(min_value=0, max_value=latest - 1))
        live_latest = _live(spark, dd, latest)
        want = _live(spark, dd, v)
        if want == live_latest:
            with _pytest.raises(ValueError, match="no-op"):
                tl.restore_table(spark, dd, v)
            return
        v_res = tl.restore_table(spark, dd, v)
        assert v_res == latest + 1
        assert _live(spark, dd) == want
        # history above the target is rolled back, never erased
        assert _live(spark, dd, latest) == live_latest

    check()


def test_clone_append_of_deleted_key_stays_visible(spark, tmp_path):
    """ADVICE r14 #1 (high): the clone's v0 re-emits carry source
    sequence numbers, but the clone's ORGANIC commits restart at v1 —
    without the seq-baseline remap an inherited equality delete (src
    seq 6) out-sequences the clone's first appends and silently
    removes them.  The remap pins every cloned seq <= 0, so a row
    appended to the CLONE after the clone is visible in batch MOR,
    the streaming IVM, and post-materialization reads."""
    d = _fixture_copy(spark, tmp_path, "cloneapp")
    base = tl.snapshot_read(spark, d)
    k = base.orderBy("o_orderkey").limit(1).collect()[0]["o_orderkey"]
    tl.delete_keys_mor(
        spark, d,
        base.filter(f"o_orderkey = {k}").select("o_orderkey").distinct())
    c = str(tmp_path / "cloneappdst")
    tl.clone_table(spark, d, c)
    # the cloned keydel is live on the clone and still subtracts k
    assert tl.snapshot_read_mor(spark, c).filter(
        f"o_orderkey = {k}").count() == 0
    # append the DELETED key to the clone (organic commit, seq >= 1)
    row = base.filter(f"o_orderkey = {k}").limit(1).withColumn(
        "o_orderpriority", tl.F.lit("9-POSTCLONE"))
    tl.constrained_append(spark, c, row, "POSTCLONE.parquet")
    mor = tl.snapshot_read_mor(spark, c)
    got = mor.filter(f"o_orderkey = {k}").collect()
    assert [r["o_orderpriority"] for r in got] == ["9-POSTCLONE"]
    # a fresh streaming IVM over the clone's log agrees
    ckpt = str(tmp_path / "cloneapp_ckpt")
    emissions = str(tmp_path / "cloneapp_emissions")
    tl.ivm_drain(spark, c, ckpt, emissions)
    got_v = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
             for r in tl.ivm_view(spark, emissions).collect()}
    want_v = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
              for r in mor.groupBy("o_orderpriority").agg(
                  tl.F.count("*").cast("long").alias("n_orders"),
                  tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                  .alias("sum_cents")).collect()}
    assert got_v == want_v
    # materialization applies the same sequence filter and keeps it
    tl.materialize_deletes(spark, c)
    got2 = tl.snapshot_read(spark, c).filter(
        f"o_orderkey = {k}").collect()
    assert [r["o_orderpriority"] for r in got2] == ["9-POSTCLONE"]
    # and the source is untouched: k is still deleted there
    assert tl.snapshot_read_mor(spark, d).filter(
        f"o_orderkey = {k}").count() == 0


def test_clone_of_clone_preserves_relative_sequencing(spark, tmp_path):
    """The remap must be order-preserving and idempotent under
    re-cloning: a clone of a clone (whose seqs are already <= 0)
    keeps the delete-before-append ordering bit-identical."""
    d = _fixture_copy(spark, tmp_path, "clone2src")
    base = tl.snapshot_read(spark, d)
    ks = [r["o_orderkey"] for r in
          base.select("o_orderkey").distinct().orderBy(
              "o_orderkey").limit(2).collect()]
    tl.delete_keys_mor(
        spark, d,
        base.filter(f"o_orderkey = {ks[0]}")
        .select("o_orderkey").distinct())
    row = base.filter(f"o_orderkey = {ks[0]}").limit(1).withColumn(
        "o_orderpriority", tl.F.lit("9-REBORN2"))
    tl.constrained_append(spark, d, row, "REBORN_C2.parquet")
    c1 = str(tmp_path / "clone2a")
    tl.clone_table(spark, d, c1)
    c2 = str(tmp_path / "clone2b")
    tl.clone_table(spark, c1, c2)
    want = sorted(
        tuple(r) for r in tl.snapshot_read_mor(spark, d).collect())
    assert sorted(
        tuple(r) for r in
        tl.snapshot_read_mor(spark, c2).collect()) == want
    # and the double-clone still accepts a fresh append of a key
    # whose delete it inherited twice
    row2 = base.filter(f"o_orderkey = {ks[0]}").limit(1).withColumn(
        "o_orderpriority", tl.F.lit("9-REBORN3"))
    tl.constrained_append(spark, c2, row2, "REBORN_C3.parquet")
    pris = sorted(
        r["o_orderpriority"] for r in tl.snapshot_read_mor(spark, c2)
        .filter(f"o_orderkey = {ks[0]}").collect())
    assert pris == ["9-REBORN2", "9-REBORN3"]


def test_clone_failure_is_atomic(spark, tmp_path, monkeypatch):
    """ADVICE r14 #3 (low): a mid-link OSError (cross-device dest,
    permissions) must not leave a half-built destination that blocks
    the retry with 'clone destination exists'."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "cloneatomic")
    c = str(tmp_path / "cloneatomicdst")
    real_link = os.link
    calls = {"n": 0}

    def flaky_link(src, dst, **kw):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise OSError("simulated cross-device link")
        return real_link(src, dst, **kw)

    monkeypatch.setattr(tl.os, "link", flaky_link)
    with pytest.raises(OSError, match="cross-device"):
        tl.clone_table(spark, d, c)
    monkeypatch.setattr(tl.os, "link", real_link)
    assert not os.path.exists(c)
    assert not os.path.exists(c + ".__clone_tmp__")
    # the retry succeeds — no stale 'destination exists' refusal
    tl.clone_table(spark, d, c)
    assert tl.snapshot_read(spark, c).count() == \
        tl.snapshot_read(spark, d).count()


def test_timestamp_adjustment_keeps_every_version_addressable(
        spark, tmp_path):
    """ADVICE r14 #2 (low): with plain max() a commit whose mtime
    regresses collapses onto its predecessor's timestamp, making the
    predecessor unreachable by TIMESTAMP AS OF.  The strictly-
    increasing adjustment (Delta's predecessor+1ms bump) keeps every
    retained version addressable."""
    d = _mklog(tmp_path, {
        0: [_add(0, "A0.parquet")],
        1: [_add(1, "A1.parquet")],
        2: [_add(2, "A2.parquet")],
    })
    p0 = os.path.join(d, tl.LOG_SUBDIR, "00000000.json")
    p1 = os.path.join(d, tl.LOG_SUBDIR, "00000001.json")
    p2 = os.path.join(d, tl.LOG_SUBDIR, "00000002.json")
    t0 = 1_700_000_000.0
    os.utime(p0, (t0, t0))
    os.utime(p1, (t0 + 10, t0 + 10))
    os.utime(p2, (t0 + 5, t0 + 5))  # regressed mtime (clock skew)
    # v1 stays addressable at its own timestamp...
    assert tl.version_at_timestamp(d, t0 + 10) == 1
    # ...and v2 resolves strictly after it (adjusted to t1+1ms)
    assert tl.version_at_timestamp(d, t0 + 10 + 2e-3) == 2
    assert tl.version_at_timestamp(d, t0 + 11) == 2
    assert tl.version_at_timestamp(d, t0) == 0


def test_partition_pruning_reads_only_matching_files(spark):
    """VERDICT r14 next #4: partition pruning must hand the scan
    ONLY the year-matched file plus the priority-partitioned files
    (which recorded no o_year value — the spec-evolution safety
    rule), and the residual filter keeps the answer exact."""
    d = tl.stage_partitioned_table(spark, SF_SMOKE)
    cand = tl.partition_candidate_files(spark, d, {"o_year": "1995"})
    names = sorted(r["path"] for r in cand)
    assert names == sorted(
        ["P-o_year=1995.parquet"]
        + [p for p in (r["path"] for r in
                       sr.snapshot_files(spark, d).collect())
           if p.startswith("Q-")]
    )
    # the scan's actual inputs are exactly the candidates (plan pin)
    from urllib.parse import unquote

    df = tl.partition_pruned_read(spark, d, {"o_year": "1995"})
    got_inputs = {unquote(os.path.basename(p)) for p in df.inputFiles()}
    assert got_inputs == set(names)
    # and the pruned answer equals the unpruned recompute
    want = (
        tl.partition_pruned_read(spark, d, {})
        .filter("o_year = '1995'")
        .groupBy("o_orderpriority").count().collect()
    )
    got = df.groupBy("o_orderpriority").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_partition_spec_evolution_prunes_per_spec(spark):
    """Filtering on the EVOLVED spec column prunes the post-evolution
    files to one and keeps every pre-evolution file (no recorded
    value) as a candidate — evolution degrades precision, never
    correctness."""
    d = tl.stage_partitioned_table(spark, SF_SMOKE)
    cand = sorted(
        r["path"] for r in tl.partition_candidate_files(
            spark, d, {"o_orderpriority": "5-LOW"})
    )
    assert [p for p in cand if p.startswith("Q-")] == \
        ["Q-o_orderpriority=5-LOW.parquet"]
    assert len([p for p in cand if p.startswith("P-")]) == \
        len([r for r in sr.snapshot_files(spark, d).collect()
             if r["path"].startswith("P-")])
    got = tl.partition_pruned_read(
        spark, d, {"o_orderpriority": "5-LOW"}).count()
    want = tl.partition_pruned_read(spark, d, {}).filter(
        "o_orderpriority = '5-LOW'").count()
    assert got == want > 0


def test_append_partitioned_refuses_bad_input(spark, tmp_path):
    import pytest

    d = str(tmp_path / "partbad")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").limit(10)
    with pytest.raises(ValueError, match="no partition spec"):
        tl.append_partitioned(spark, d, orders, "X")
    tl.set_partition_spec(d, ["o_year"])
    with pytest.raises(ValueError, match="missing partition columns"):
        tl.append_partitioned(spark, d, orders, "X")
    with pytest.raises(ValueError, match="unencodable|malformed"):
        tl.set_partition_spec(d, ["bad=name"])
    with pytest.raises(ValueError, match="at least one column"):
        tl.set_partition_spec(d, [])


def test_partition_values_survive_clone_and_restore(spark, tmp_path):
    """RESTORE/CLONE re-emits carry `part`, so pruning keeps its
    precision across time travel — a re-added year file still prunes
    by year on the clone."""
    base = tl.stage_partitioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "partsrc")
    shutil.copytree(base, d)
    c = str(tmp_path / "partclone")
    tl.clone_table(spark, d, c)
    cand = tl.partition_candidate_files(spark, c, {"o_year": "1995"})
    assert sorted(r["path"] for r in cand if r["path"].startswith("P-")) \
        == ["P-o_year=1995.parquet"]
    # restore below the evolution: v1 state = year files only
    tl.restore_table(spark, d, 1)
    cand2 = tl.partition_candidate_files(spark, d, {"o_year": "1995"})
    assert sorted(r["path"] for r in cand2) == ["P-o_year=1995.parquet"]


def test_vacuum_after_clone_matrix(spark, tmp_path):
    """VERDICT r14 next #8: the clone x vacuum matrix.  A shallow
    clone's bytes are hard links, so vacuum on either side unlinks
    only its own directory entry:

    - vacuum on the SOURCE (after a CoW delete dead-ends the shared
      files there) must leave the clone reading bit-identically —
      the inode survives through the clone's link;
    - the source's own below-horizon time travel fails loudly
      naming the vacuumed files;
    - vacuum on the CLONE afterwards reclaims only clone-dead files
      and leaves the source's latest read intact."""
    import pytest

    d = _fixture_copy(spark, tmp_path, "vacclone")
    c = str(tmp_path / "vaccloneDst")
    tl.clone_table(spark, d, c)
    before = sorted(
        tuple(r) for r in tl.snapshot_read(spark, c).collect())
    # source evolves: CoW delete rewrites every touched file, then
    # vacuum physically reclaims the now-dead originals THERE
    tl.delete_where_cow(spark, d, "o_orderstatus = 'F'")
    deleted = tl.vacuum_table(spark, d, retain_versions=0)
    assert deleted, "the CoW delete must have dead-ended files"
    # the clone still reads bit-identically through its own links
    after = sorted(
        tuple(r) for r in tl.snapshot_read(spark, c).collect())
    assert after == before
    # the source's below-horizon time travel fails LOUDLY
    with pytest.raises(ValueError, match="vacuumed files"):
        tl.snapshot_read(spark, d, 3).collect()
    # and its latest read still works
    assert tl.snapshot_read(spark, d).filter(
        "o_orderstatus = 'F'").count() == 0
    # vacuum the CLONE: nothing is dead there (single flattened v0),
    # so nothing reclaims and both sides keep reading
    assert tl.vacuum_table(spark, c, retain_versions=0) == []
    assert sorted(
        tuple(r) for r in tl.snapshot_read(spark, c).collect()
    ) == before


def test_vacuum_after_clone_with_clone_side_delete(spark, tmp_path):
    """The other diagonal: the CLONE CoW-deletes and vacuums —
    reclaiming its links to files the SOURCE still holds live — and
    the source must keep reading every byte (the refcount rule)."""
    d = _fixture_copy(spark, tmp_path, "vacclone2")
    c = str(tmp_path / "vacclone2Dst")
    tl.clone_table(spark, d, c)
    src_before = sorted(
        tuple(r) for r in tl.snapshot_read(spark, d).collect())
    tl.delete_where_cow(spark, c, "o_orderstatus = 'O'")
    deleted = tl.vacuum_table(spark, c, retain_versions=0)
    assert deleted
    assert sorted(
        tuple(r) for r in tl.snapshot_read(spark, d).collect()
    ) == src_before


def test_replace_partitions_is_atomic_and_exact(spark, tmp_path):
    """Dynamic partition overwrite: ONE commit replaces exactly the
    touched partitions — untouched partitions keep their files, the
    flip is a single version, and time travel below it still reads
    the old content."""
    from gemmsql.datamodel import load_table

    base = tl.stage_partitioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "dpo")
    shutil.copytree(base, d)
    v_before = max(tl._present_versions(d))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ).withColumn("o_year", tl.F.date_format("o_orderdate", "yyyy"))
    # spec is o_orderpriority after the staged evolution; overwrite
    # ONE priority with a thinned replacement
    repl = orders.filter(
        (tl.F.col("o_orderpriority") == "5-LOW")
        & (tl.F.col("o_orderkey") % 2 == 0)
    )
    v = tl.replace_partitions(spark, d, repl, "R")
    assert v == v_before + 1  # one atomic version
    live = sr.snapshot_files(spark, d).collect()
    by_name = {r["path"] for r in live}
    # the old 5-LOW file is gone, the new one is live, the other
    # priorities and ALL year files (different spec — never
    # overwrite-removed) survive
    assert "Q-o_orderpriority=5-LOW.parquet" not in by_name
    assert "R-o_orderpriority=5-LOW.parquet" in by_name
    assert "Q-o_orderpriority=1-URGENT.parquet" in by_name
    assert all(
        f"P-o_year={y}.parquet" in by_name
        for y in ("1995", "1996"))
    # content: 5-LOW rows from partitioned files = the replacement
    cand = tl.partition_candidate_files(
        spark, d, {"o_orderpriority": "5-LOW"})
    q_rows = [r for r in cand if r["path"].startswith(("Q-", "R-"))]
    assert len(q_rows) == 1 and q_rows[0]["n_rows"] == repl.count()
    # time travel below the overwrite reads the OLD partition
    old = tl.partition_candidate_files(
        spark, d, {"o_orderpriority": "5-LOW"}, version=v_before)
    assert any(r["path"] == "Q-o_orderpriority=5-LOW.parquet"
               for r in old)


def test_replace_partitions_conflicts_with_concurrent_writer(
        spark, tmp_path):
    """Two overwrites of the SAME partition cannot both land: the
    second aborts on the snapshot-isolation check (its planned
    removes are no longer live)."""
    import pytest

    from gemmsql.datamodel import load_table

    base = tl.stage_partitioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "dpoconf")
    shutil.copytree(base, d)
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    repl = orders.filter("o_orderpriority = '2-HIGH'").limit(5)
    # writer A stages AND commits first
    tl.replace_partitions(spark, d, repl, "RA")
    # writer B planned against the old snapshot: simulate by naming
    # the file A already removed
    with pytest.raises(tl.ConcurrentModificationError):
        tl.commit_actions(
            d,
            [{"a": "remove", "path": "Q-o_orderpriority=2-HIGH.parquet"}],
            expects_live=["Q-o_orderpriority=2-HIGH.parquet"],
        )
    # prefix reuse refuses loudly instead of corrupting history
    with pytest.raises(ValueError, match="fresh prefix"):
        tl.replace_partitions(spark, d, repl, "RA")


def test_compact_partition_preserves_part_and_content(spark, tmp_path):
    """Partition-scoped OPTIMIZE: two appends leave two files in a
    partition; compacting merges them into ONE file that KEEPS the
    part values (pruning precision survives), content is unchanged
    (change-free commit), and other partitions are untouched."""
    import pytest

    from gemmsql.datamodel import load_table

    base = tl.stage_partitioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "pcompact")
    shutil.copytree(base, d)
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ).withColumn("o_year", tl.F.date_format("o_orderdate", "yyyy"))
    # second wave into the priority spec -> 2 files per priority
    tl.append_partitioned(
        spark, d, orders.filter("o_orderkey % 3 = 0"), "S")
    eq = {"o_orderpriority": "1-URGENT"}
    before = sorted(
        tuple(r) for r in tl.partition_pruned_read(spark, d, eq)
        .collect())
    n_before = len(tl.partition_candidate_files(spark, d, eq))
    tl.compact_partition(spark, d, eq, "C")
    after_files = [
        r for r in tl.partition_candidate_files(spark, d, eq)
        if r["path"].startswith(("Q-", "S-", "C-"))
    ]
    assert [r["path"] for r in after_files] == \
        ["C-o_orderpriority=1-URGENT.parquet"]
    assert list(after_files[0]["part"]) == \
        ["o_orderpriority=1-URGENT"]
    after = sorted(
        tuple(r) for r in tl.partition_pruned_read(spark, d, eq)
        .collect())
    assert after == before
    # other partitions untouched: still two files each
    other = [
        r for r in tl.partition_candidate_files(
            spark, d, {"o_orderpriority": "2-HIGH"})
        if r["path"].startswith(("Q-", "S-"))
    ]
    assert len(other) == 2
    assert len(tl.partition_candidate_files(spark, d, eq)) == \
        n_before - 1  # two partition files became one
    # a single-file partition refuses (nothing to compact)
    with pytest.raises(ValueError, match="nothing to compact"):
        tl.compact_partition(spark, d, eq, "C2")


def test_in_commit_timestamps_survive_mtime_loss(spark, tmp_path):
    """Delta's inCommitTimestamps: the commit stamps its own
    wall-clock (strictly above its predecessor's) into the commit
    file, so TIMESTAMP AS OF resolves correctly even after every
    mtime is destroyed (a file copy, an object store)."""
    d = str(tmp_path / "icts")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    for p in ("A0.parquet", "A1.parquet"):
        open(os.path.join(d, tl.DATA_SUBDIR, p), "w").close()
    v0 = tl.commit_actions(d, [{
        "a": "add", "path": "A0.parquet", "n_rows": 1, "n_bytes": 1,
        "min_key": 0, "max_key": 9,
        "min_date": "1995-01-01", "max_date": "1995-12-31"}])
    v1 = tl.commit_actions(d, [{
        "a": "add", "path": "A1.parquet", "n_rows": 1, "n_bytes": 1,
        "min_key": 10, "max_key": 19,
        "min_date": "1996-01-01", "max_date": "1996-12-31"}])
    p0 = os.path.join(d, tl.LOG_SUBDIR, f"{v0:08d}.json")
    p1 = os.path.join(d, tl.LOG_SUBDIR, f"{v1:08d}.json")
    t0, t1 = tl._commit_ts_of(p0), tl._commit_ts_of(p1)
    assert t0 is not None and t1 is not None and t1 > t0
    # destroy the mtimes entirely (both to epoch 0): resolution must
    # not change — the in-commit stamps rule
    os.utime(p0, (0, 0))
    os.utime(p1, (0, 0))
    assert tl.version_at_timestamp(d, t0) == v0
    assert tl.version_at_timestamp(d, (t0 + t1) / 2) == v0
    assert tl.version_at_timestamp(d, t1) == v1
    import pytest

    with pytest.raises(ValueError, match="predates"):
        tl.version_at_timestamp(d, t0 - 1.0)


def test_partition_review_findings_r15(spark, tmp_path):
    """Round-15 review findings on the partition tier, pinned:

    1. a partition filter matching NOTHING returns an empty frame
       (the old fallback crashed on a mis-passed argument);
    2. the NULL partition reads back its rows (the residual filter
       must use isNull, not == "None");
    3. an overwrite planned before a concurrent append into the SAME
       table aborts on the serializable version pin;
    4. an empty partitioned append refuses instead of burning a
       blank commit;
    5. values Spark would percent-escape in directory names refuse
       loudly at encode time."""
    import pytest

    from gemmsql.datamodel import load_table

    d = str(tmp_path / "reviewpart")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["o_year"])
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    ).withColumn(
        "o_year",
        tl.F.when(
            tl.F.col("o_orderkey") % 10 == 0, tl.F.lit(None)
        ).otherwise(tl.F.date_format("o_orderdate", "yyyy")),
    )
    tl.append_partitioned(spark, d, orders, "P")
    # (1) no partition matches -> empty frame, no crash
    assert tl.partition_pruned_read(
        spark, d, {"o_year": "2099"}).count() == 0
    # (2) the NULL partition round-trips
    n_null = orders.filter("o_year IS NULL").count()
    assert n_null > 0
    got = tl.partition_pruned_read(spark, d, {"o_year": None})
    assert got.count() == n_null
    assert [r["path"] for r in tl.partition_candidate_files(
        spark, d, {"o_year": None})] == \
        ["P-o_year=__HIVE_DEFAULT_PARTITION__.parquet"]
    # (3) overwrite vs concurrent append: serializable pin aborts
    planned_v = max(tl._present_versions(d))
    repl = orders.filter("o_year = '1995'")
    adds = tl._stage_partitioned_files(
        spark, d, tl._snapshot(d), repl, "R1")
    tl.append_partitioned(spark, d, orders.filter(
        "o_year = '1995' AND o_orderkey % 5 = 0"), "CONC")
    with pytest.raises(tl.ConcurrentModificationError,
                       match="planned against"):
        tl.commit_actions(
            d, adds, expects_latest_version=planned_v)
    # (the live replace_partitions path replans and succeeds)
    tl.replace_partitions(spark, d, repl, "R2")
    # (4) empty append refuses
    with pytest.raises(ValueError, match="empty append"):
        tl.append_partitioned(spark, d, orders.limit(0), "E")
    # (5) escapable values refuse loudly
    with pytest.raises(ValueError, match="unencodable"):
        tl._encode_part_value("c", "a:b")
    with pytest.raises(ValueError, match="unencodable"):
        tl._encode_part_value("c", "")


def test_hidden_partitioning_transforms(spark, tmp_path):
    """Iceberg hidden partitioning: a spec of (month(o_orderdate),
    bucket(4,o_orderkey)) routes writes by DERIVED values the user
    never materializes, and a plain source equality prunes through
    the transform conversion."""
    import pytest

    from gemmsql.datamodel import load_table

    d = str(tmp_path / "hiddenpart")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["year(o_orderdate)", "bucket(4,o_orderkey)"])
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    )
    tl.append_partitioned(spark, d, orders, "H")
    live = sr.snapshot_files(spark, d).collect()
    # every file records BOTH derived values under the entry keys
    for r in live:
        ks = sorted(p.split("=", 1)[0] for p in r["part"])
        assert ks == ["bucket(4,o_orderkey)", "year(o_orderdate)"]
    # direct transform-space pruning
    cand = tl.partition_candidate_files(
        spark, d, {"year(o_orderdate)": "1995"})
    assert cand and all(
        "year(o_orderdate)=1995" in list(r["part"]) for r in cand)
    # SOURCE-equality pruning through the conversion: pick one real
    # order and query by its key — bucket(4) must prune to k % 4
    row = orders.orderBy("o_orderkey").limit(1).collect()[0]
    k = row["o_orderkey"]
    got = tl.partition_pruned_read_where(
        spark, d, {"o_orderkey": k})
    pruned = tl.transform_partition_value("bucket(4,o_orderkey)", k)
    inputs = {os.path.basename(p) for p in got.inputFiles()}
    assert all(f"bucket(4,o_orderkey)={pruned}" in f for f in inputs)
    assert got.count() == orders.filter(
        tl.F.col("o_orderkey") == k).count() > 0
    # source-equality on the date prunes through year()
    dt = str(row["o_orderdate"])
    got2 = tl.partition_pruned_read_where(
        spark, d, {"o_orderdate": dt})
    inputs2 = {os.path.basename(p) for p in got2.inputFiles()}
    assert all(f"year(o_orderdate)={dt[:4]}" in f for f in inputs2)
    assert got2.count() == orders.filter(
        tl.F.col("o_orderdate").cast("string") == dt).count() > 0
    # conversion helper semantics
    assert tl.transform_partition_value("month(c)", "1995-03-17") == \
        "1995-03"
    assert tl.transform_partition_value("truncate(3,c)", "URGENT") == \
        "URG"
    assert tl.transform_partition_value("bucket(8,c)", 13) == "5"
    with pytest.raises(ValueError, match="malformed"):
        tl.set_partition_spec(d, ["bucket(0,c)"])
    with pytest.raises(ValueError, match="malformed"):
        tl.set_partition_spec(d, ["nope(x)"])


def test_partition_transform_read_scans_one_month_file(spark):
    """The transform gate's plan pin: the month prune hands the scan
    exactly ONE file — the 1995-03 month — out of the staged
    many-month layout."""
    d = tl.stage_transform_table(spark, SF_SMOKE)
    df = tl.partition_pruned_read(
        spark, d, {"month(o_orderdate)": "1995-03"})
    inputs = {os.path.basename(p) for p in df.inputFiles()}
    assert inputs == {"M-month(o_orderdate)=1995-03.parquet"}
    n_all = len(sr.snapshot_files(spark, d).collect())
    assert n_all > 12  # genuinely many months staged


def test_partition_ops_property_vs_model(spark, tmp_path):
    """Hypothesis property: random sequences of partitioned
    append / dynamic-overwrite / compact against a driver-side dict
    model — after every op, each partition's pruned read returns
    EXACTLY the model's row multiset and the candidate file count
    matches the model's file count.  The same replay-model pattern
    the RESTORE property suite pins."""
    from hypothesis import given, settings, strategies as st

    YEARS = ["1995", "1996", "1997"]

    def _frame(batch_id, years):
        # deterministic synthetic rows per (batch, year)
        rows = []
        for y in years:
            for i in range(2):
                k = batch_id * 100 + int(y) * 10 + i
                rows.append((
                    k, float(k) + 0.25, f"{y}-03-1{i + 1}",
                    "1-URGENT" if i == 0 else "5-LOW", y,
                ))
        return spark.createDataFrame(
            rows,
            "o_orderkey long, o_totalprice double, o_orderdate string,"
            " o_orderpriority string, o_year string",
        ).withColumn("o_orderdate", tl.F.to_date("o_orderdate"))

    ops = st.lists(
        st.one_of(
            st.tuples(st.just("append"),
                      st.sets(st.sampled_from(YEARS), min_size=1)),
            st.tuples(st.just("replace"),
                      st.sets(st.sampled_from(YEARS), min_size=1)),
            st.tuples(st.just("compact"), st.sampled_from(YEARS)),
        ),
        min_size=1, max_size=5,
    )

    counter = {"n": 0}

    @settings(max_examples=5, deadline=None)
    @given(seq=ops)
    def check(seq):
        counter["n"] += 1
        d = str(tmp_path / f"proppart{counter['n']}")
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        tl.set_partition_spec(d, ["o_year"])
        model: dict[str, list[tuple]] = {y: [] for y in YEARS}
        files: dict[str, int] = {y: 0 for y in YEARS}
        for i, (op, arg) in enumerate(seq):
            if op == "append":
                years = sorted(arg)
                df = _frame(i, years)
                tl.append_partitioned(spark, d, df, f"A{i}")
                batch = {
                    y: [tuple(r) for r in
                        df.filter(tl.F.col("o_year") == y).collect()]
                    for y in years
                }
                for y in years:
                    model[y] += batch[y]
                    files[y] += 1
            elif op == "replace":
                years = sorted(arg)
                df = _frame(i, years)
                tl.replace_partitions(spark, d, df, f"R{i}")
                for y in years:
                    model[y] = [
                        tuple(r) for r in
                        df.filter(tl.F.col("o_year") == y).collect()
                    ]
                    files[y] = 1
            else:  # compact
                y = arg
                if files[y] < 2:
                    import pytest as _pytest

                    if files[y] <= 1:
                        with _pytest.raises(ValueError):
                            tl.compact_partition(
                                spark, d, {"o_year": y}, f"C{i}")
                    continue
                tl.compact_partition(spark, d, {"o_year": y}, f"C{i}")
                files[y] = 1
            for y in YEARS:
                cand = tl.partition_candidate_files(
                    spark, d, {"o_year": y})
                assert len(cand) == files[y], (y, seq)
                if files[y]:
                    got = sorted(
                        tuple(r) for r in tl.partition_pruned_read(
                            spark, d, {"o_year": y}
                        ).withColumn(
                            "o_orderdate",
                            tl.F.col("o_orderdate").cast("string"),
                        ).collect()
                    )
                    want = sorted(
                        (a, b, str(c), p, yy)
                        for (a, b, c, p, yy) in model[y]
                    )
                    assert got == want, (y, seq)

    check()


def test_partitioned_commits_flow_through_ivm(spark, tmp_path):
    """Cross-tier composition: partitioned appends and a dynamic
    partition OVERWRITE land mid-stream, and the maintained view
    nets to exactly the final table content — the overwrite's
    removes retract the replaced partition's rows through the same
    signed-delta algebra as any other remove."""
    from gemmsql.datamodel import load_table

    base = tl.stage_partitioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "ivmpart")
    shutil.copytree(base, d)
    ckpt = str(tmp_path / "ivmpart_ckpt")
    emissions = str(tmp_path / "ivmpart_emissions")
    tl.ivm_drain(spark, d, ckpt, emissions)
    # mid-stream: overwrite ONE priority partition with a thinned set
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ).withColumn("o_year", tl.F.date_format("o_orderdate", "yyyy"))
    repl = orders.filter(
        (tl.F.col("o_orderpriority") == "3-MEDIUM")
        & (tl.F.col("o_orderkey") % 3 == 0))
    tl.replace_partitions(spark, d, repl, "W")
    tl.ivm_drain(spark, d, ckpt, emissions)
    got = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
           for r in tl.ivm_view(spark, emissions).collect()}
    want = {r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
            for r in tl.snapshot_read(spark, d)
            .groupBy("o_orderpriority").agg(
                tl.F.count("*").cast("long").alias("n_orders"),
                tl.F.sum(tl.F.expr(tl._CENTS)).cast("long")
                .alias("sum_cents")).collect()}
    assert got == want


def test_generalized_column_bounds_prune_and_round_trip(spark, tmp_path):
    """Iceberg-style per-column bounds: append_with_stats records
    [type, min, max] for arbitrary columns; range predicates prune
    files typed-correctly (numeric vs lexicographic), files without
    a bound always stay candidates, and pruned reads equal the full
    recompute."""
    import pytest

    from gemmsql.datamodel import load_table

    d = str(tmp_path / "cbounds")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    w = mx // 4 + 1
    for b in range(4):
        tl.append_with_stats(
            spark, d,
            orders.filter(tl.F.expr(f"o_orderkey div {w}") == b),
            f"S{b}.parquet",
            ["o_totalprice", "o_orderstatus"],
        )
    # a file WITHOUT bounds (plain writer) must stay a candidate
    tl.constrained_append(
        spark, d, orders.filter("o_orderkey % 97 = 0"), "NB.parquet")
    live = sr.snapshot_files(spark, d).collect()
    assert sum(1 for r in live if r["cstats"]) == 4
    # numeric range prune on o_totalprice
    prices = sorted(
        r["o_totalprice"] for r in orders.select("o_totalprice")
        .collect())
    lo, hi = prices[len(prices) // 3], prices[len(prices) // 2]
    cand = tl.candidate_files_where(spark, d, "o_totalprice", lo, hi)
    names = {r["path"] for r in cand}
    assert "NB.parquet" in names  # unbounded file never pruned
    got = sorted(
        tuple(r) for r in tl.stats_pruned_read_where(
            spark, d, "o_totalprice", lo, hi).collect())
    want = sorted(
        tuple(r) for r in tl.snapshot_read(spark, d).filter(
            (tl.F.col("o_totalprice") >= lo)
            & (tl.F.col("o_totalprice") <= hi)).collect())
    assert got == want and got
    # a price range ABOVE every bound prunes all 4 stat-ed files
    cand2 = tl.candidate_files_where(
        spark, d, "o_totalprice", prices[-1] + 1, prices[-1] + 2)
    assert {r["path"] for r in cand2} == {"NB.parquet"}
    # string (lexicographic) prune on o_orderstatus
    cand3 = tl.candidate_files_where(spark, d, "o_orderstatus", "Z", None)
    assert {r["path"] for r in cand3} == {"NB.parquet"}
    got3 = tl.stats_pruned_read_where(
        spark, d, "o_orderstatus", "O", "O")
    assert got3.count() == tl.snapshot_read(spark, d).filter(
        "o_orderstatus = 'O'").count() > 0
    # unknown stat column refuses at write time
    with pytest.raises(ValueError, match="stat columns not in frame"):
        tl.append_with_stats(spark, d, orders, "X.parquet", ["nope"])


def test_column_bounds_survive_clone(spark, tmp_path):
    """Clone re-emits carry cstats — generalized pruning keeps its
    precision on the clone."""
    from gemmsql.datamodel import load_table

    d = str(tmp_path / "cbclone")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    tl.append_with_stats(
        spark, d, orders, "S.parquet", ["o_totalprice"])
    c = str(tmp_path / "cbcloneDst")
    tl.clone_table(spark, d, c)
    top = orders.agg(tl.F.max("o_totalprice")).collect()[0][0]
    assert tl.candidate_files_where(
        spark, c, "o_totalprice", top + 1, None) == []
    assert len(tl.candidate_files_where(
        spark, c, "o_totalprice", None, top)) == 1


def test_compact_partitions_whole_table(spark, tmp_path):
    """The nightly-maintenance verb: one commit compacts EVERY
    multi-file partition, keeps single-file partitions untouched,
    preserves content exactly, and is idempotent (second run
    no-ops)."""
    from gemmsql.datamodel import load_table

    base = tl.stage_partitioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "pcompactall")
    shutil.copytree(base, d)
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ).withColumn("o_year", tl.F.date_format("o_orderdate", "yyyy"))
    # second wave -> every priority partition holds 2 files; the
    # year files stay single
    tl.append_partitioned(
        spark, d, orders.filter("o_orderkey % 3 = 0"), "T")
    before = sorted(
        tuple(r) for r in tl.snapshot_read(spark, d).collect())
    n_year = len([r for r in sr.snapshot_files(spark, d).collect()
                  if r["path"].startswith("P-")])
    v = tl.compact_partitions(spark, d, "CA")
    assert v is not None
    live = sr.snapshot_files(spark, d).collect()
    # every priority partition is now ONE CA- file with part kept
    pr = [r for r in live if "o_orderpriority=" in r["path"]]
    assert all(r["path"].startswith("CA-") for r in pr)
    assert all(r["part"] for r in pr)
    assert len(pr) == 5
    # the single-file year partitions were not rewritten
    assert len([r for r in live if r["path"].startswith("P-")]) == n_year
    after = sorted(
        tuple(r) for r in tl.snapshot_read(spark, d).collect())
    assert after == before
    # idempotent: nothing left to compact
    assert tl.compact_partitions(spark, d, "CB") is None


def test_column_bounds_property_vs_model(spark, tmp_path):
    """Hypothesis property for the generalized bounds: random
    appends (with and without stats) and random numeric range
    queries — the pruned read always equals the model filter, and
    pruning never drops a file whose range intersects."""
    from hypothesis import given, settings, strategies as st

    counter = {"n": 0}

    @settings(max_examples=5, deadline=None)
    @given(
        batches=st.lists(
            st.tuples(
                st.lists(st.integers(min_value=0, max_value=99),
                         min_size=1, max_size=6),
                st.booleans(),  # record stats?
            ),
            min_size=1, max_size=4,
        ),
        q=st.tuples(st.integers(min_value=-5, max_value=105),
                    st.integers(min_value=-5, max_value=105)),
    )
    def check(batches, q):
        counter["n"] += 1
        d = str(tmp_path / f"cbprop{counter['n']}")
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        all_vals: list[int] = []
        for i, (vals, with_stats) in enumerate(batches):
            rows = [(j + i * 1000, float(v), "1995-01-01", "X")
                    for j, v in enumerate(vals)]
            df = spark.createDataFrame(
                rows,
                "o_orderkey long, o_totalprice double,"
                " o_orderdate string, o_orderpriority string",
            ).withColumn("o_orderdate", tl.F.to_date("o_orderdate"))
            if with_stats:
                tl.append_with_stats(
                    spark, d, df, f"B{i}.parquet", ["o_totalprice"])
            else:
                add = tl._write_with_add_action(df, d, f"B{i}.parquet")
                tl.commit_actions(d, [add])
            all_vals += vals
        lo, hi = sorted(q)
        got = sorted(
            r["o_totalprice"] for r in tl.stats_pruned_read_where(
                spark, d, "o_totalprice", float(lo), float(hi)
            ).collect())
        want = sorted(float(v) for v in all_vals if lo <= v <= hi)
        assert got == want, (batches, q)

    check()


def test_drop_partitions_metadata_only_and_loud(spark, tmp_path):
    """DROP PARTITION: on a table where every file records the key,
    one commit of removes drops the partition with zero bytes moved
    and time travel below still reads it; on a mixed table
    (pre-evolution files lack the key) it REFUSES loudly instead of
    silently leaving rows behind."""
    import pytest

    from gemmsql.datamodel import load_table

    # clean hidden-partition table: every file records year+bucket
    d = str(tmp_path / "droppart")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["year(o_orderdate)"])
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    tl.append_partitioned(spark, d, orders, "Y")
    v_before = max(tl._present_versions(d))
    n_files = len(sr.snapshot_files(spark, d).collect())
    want_left = orders.filter(
        tl.F.date_format("o_orderdate", "yyyy") != "1995").count()
    v = tl.drop_partitions(spark, d, {"year(o_orderdate)": "1995"})
    assert v == v_before + 1
    assert tl.snapshot_read(spark, d).count() == want_left
    assert len(sr.snapshot_files(spark, d).collect()) == n_files - 1
    # zero bytes moved: the dropped file still exists on disk and
    # time travel below the drop reads it
    assert tl.snapshot_read(spark, d, v_before).count() == \
        orders.count()
    # double drop refuses (nothing matches)
    with pytest.raises(ValueError, match="no live files match"):
        tl.drop_partitions(spark, d, {"year(o_orderdate)": "1995"})
    # mixed table (the staged two-spec fixture): year files lack the
    # priority key -> loud refusal
    base = tl.stage_partitioned_table(spark, SF_SMOKE)
    m = str(tmp_path / "droppartmixed")
    shutil.copytree(base, m)
    with pytest.raises(ValueError, match="cannot prove completeness"):
        tl.drop_partitions(spark, m, {"o_orderpriority": "5-LOW"})


def test_storage_partitioned_join_no_shuffle(spark, tmp_path):
    """Iceberg's storage-partitioned join: two tables bucketed by
    the same bucket(4,o_orderkey) spec join per-bucket with NO
    Exchange hashpartitioning on either side, and the result equals
    the plain shuffled join."""
    import pytest

    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority",
    )
    dims = orders.select(
        "o_orderkey",
        tl.F.col("o_orderpriority").alias("prio2"),
    ).filter("o_orderkey % 2 = 0")
    da, db = str(tmp_path / "spjA"), str(tmp_path / "spjB")
    for d, df in ((da, orders), (db, dims)):
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        tl.set_partition_spec(d, ["bucket(4,o_orderkey)"])
        tl.append_partitioned(spark, d, df, "B")
    got = tl.storage_partitioned_join(spark, da, db)
    p = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p, (
        "co-located join must not shuffle either side"
    )
    want = orders.join(
        dims.withColumnsRenamed({"prio2": "r_prio2"}),
        on="o_orderkey",
    )
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # mismatched bucket counts refuse
    dc = str(tmp_path / "spjC")
    os.makedirs(os.path.join(dc, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(dc, tl.DATA_SUBDIR))
    tl.set_partition_spec(dc, ["bucket(8,o_orderkey)"])
    tl.append_partitioned(spark, dc, dims, "B")
    with pytest.raises(ValueError, match="bucket counts differ"):
        tl.storage_partitioned_join(spark, da, dc)


def test_spj_survives_partition_compaction(spark, tmp_path):
    """Composition: compacting one side's multi-file buckets keeps
    the bucket layout, so the storage-partitioned join still plans
    shuffle-free and returns the same rows."""
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority",
    )
    da, db = str(tmp_path / "spjcA"), str(tmp_path / "spjcB")
    for d in (da, db):
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        tl.set_partition_spec(d, ["bucket(4,o_orderkey)"])
    tl.append_partitioned(spark, da, orders, "B1")
    tl.append_partitioned(
        spark, da, orders.filter("o_orderkey % 7 = 0"), "B2")
    tl.append_partitioned(
        spark, db,
        orders.select("o_orderkey",
                      tl.F.col("o_orderpriority").alias("p2")), "B1")
    before = sorted(map(tuple, tl.storage_partitioned_join(
        spark, da, db).collect()))
    assert tl.compact_partitions(spark, da, "C") is not None
    after_df = tl.storage_partitioned_join(spark, da, db)
    p = after_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p
    assert sorted(map(tuple, after_df.collect())) == before


def test_cow_dml_carries_partition_values(spark, tmp_path):
    """DML on a partitioned table must not degrade pruning: a CoW
    DELETE's and UPDATE's per-origin rewrites carry the origin
    file's part values (the rewrite holds a subset of its rows, so
    the values remain true), and pruning precision survives."""
    from gemmsql.datamodel import load_table

    d = str(tmp_path / "dmlpart")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["o_year"])
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ).withColumn("o_year", tl.F.date_format("o_orderdate", "yyyy"))
    tl.append_partitioned(spark, d, orders, "P")
    n_years = len(sr.snapshot_files(spark, d).collect())
    tl.delete_where_cow(spark, d, "o_orderkey % 5 = 0")
    live = sr.snapshot_files(spark, d).collect()
    assert all(r["part"] for r in live), \
        "a CoW delete rewrite dropped partition values"
    # pruning is as tight as before the delete
    cand = tl.partition_candidate_files(spark, d, {"o_year": "1995"})
    assert len(cand) == 1
    got = tl.partition_pruned_read(spark, d, {"o_year": "1995"}).count()
    want = tl.snapshot_read(spark, d).filter("o_year = '1995'").count()
    assert got == want > 0
    # UPDATE keeps them too
    tl.update_where_cow(
        spark, d, "o_orderkey % 7 = 0",
        {"o_orderpriority": "'9-UPD'"})
    live2 = sr.snapshot_files(spark, d).collect()
    assert all(r["part"] for r in live2)
    assert len(tl.partition_candidate_files(
        spark, d, {"o_year": "1995"})) == 1
    assert len(live2) == n_years


def test_update_of_partition_column_drops_stale_carry(spark, tmp_path):
    """The carry rule's OTHER half (r15 third-session review): when
    an UPDATE assigns a partition-spec column, the origin's recorded
    value is no longer true of the rewritten rows — carrying it
    would let a pruned read of the NEW value skip the rewrite and
    LOSE the moved rows.  The rewrite must drop that entry (file
    becomes a never-pruned candidate) while reads of old and new
    values both stay exact."""
    from gemmsql.datamodel import load_table

    d = str(tmp_path / "updpart")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["o_year"])
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    ).withColumn("o_year", tl.F.date_format("o_orderdate", "yyyy"))
    tl.append_partitioned(spark, d, orders, "P")
    moved = tl.snapshot_read(spark, d).filter(
        "o_year = '1995' AND o_orderkey % 3 = 0").count()
    assert moved > 0
    tl.update_where_cow(
        spark, d, "o_year = '1995' AND o_orderkey % 3 = 0",
        {"o_year": "'2099'"},
    )
    # the moved rows are FINDABLE under the new value: the rewrite
    # must be a candidate for o_year=2099
    got = tl.partition_pruned_read(
        spark, d, {"o_year": "2099"}).count()
    assert got == moved, (
        "rows moved to a new partition value were lost to pruning — "
        "the rewrite carried its origin's stale o_year"
    )
    # and the rewritten file no longer claims the stale value
    live = sr.snapshot_files(spark, d).collect()
    rewrites = [r for r in live if r["path"].startswith("UPD")]
    assert rewrites
    for r in rewrites:
        vals = dict(p.split("=", 1) for p in (r["part"] or []))
        assert "o_year" not in vals
    # the old partition still reads exactly (residual filter)
    got95 = tl.partition_pruned_read(
        spark, d, {"o_year": "1995"}).count()
    want95 = tl.snapshot_read(spark, d).filter(
        "o_year = '1995'").count()
    assert got95 == want95


def test_update_of_transform_source_drops_stale_carry(spark, tmp_path):
    """Hidden-partitioning twin: updating the SOURCE column of a
    ``month(o_orderdate)`` spec invalidates the derived month value —
    the rewrite drops the entry, and a pruned read of the months the
    rows moved INTO still finds them."""
    from gemmsql.datamodel import load_table

    d = str(tmp_path / "updtrans")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["month(o_orderdate)"])
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate",
    )
    tl.append_partitioned(spark, d, orders, "M")
    moved = tl.snapshot_read(spark, d).filter(
        "date_format(o_orderdate, 'yyyy-MM') = '1995-03'").count()
    assert moved > 0
    tl.update_where_cow(
        spark, d, "date_format(o_orderdate, 'yyyy-MM') = '1995-03'",
        {"o_orderdate": "date_add(o_orderdate, 365)"},
    )
    # rows now live in 1996-02/1996-03; both must be findable
    want = tl.snapshot_read(spark, d).filter(
        "date_format(o_orderdate, 'yyyy-MM') IN "
        "('1996-02', '1996-03')").count()
    got = (
        tl.partition_pruned_read(
            spark, d, {"month(o_orderdate)": "1996-02"}).count()
        + tl.partition_pruned_read(
            spark, d, {"month(o_orderdate)": "1996-03"}).count()
    )
    assert got == want >= moved > 0
    # untouched months keep their carried values (precision survives
    # for entries the update did not invalidate... the spec has one
    # entry here, so only rewrites lose it)
    live = sr.snapshot_files(spark, d).collect()
    untouched = [r for r in live if r["path"].startswith("M-")]
    assert untouched and all(r["part"] for r in untouched)


def test_merge_drops_nonkey_carry_keeps_bucket(spark, tmp_path):
    """MERGE assigns every non-key column on matched rows, so a
    value-column partition entry cannot carry — but a
    ``bucket(N,key)`` entry derives from the UNASSIGNED merge key
    and must survive, keeping the storage-partitioned-join layout
    intact across merges."""
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    )
    # bucket-spec table: carry survives a merge
    d = str(tmp_path / "mrgbucket")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["bucket(4,o_orderkey)"])
    tl.append_partitioned(spark, d, orders, "B")
    source = orders.filter("o_orderkey % 11 = 0").withColumn(
        "o_orderpriority", tl.F.lit("9-MRG"))
    tl.merge_table(spark, d, source)
    live = sr.snapshot_files(spark, d).collect()
    rewrites = [r for r in live if r["path"].startswith("MRG")
                and not r["path"].endswith("-ins.parquet")]
    assert rewrites
    for r in rewrites:
        vals = dict(p.split("=", 1) for p in (r["part"] or []))
        assert "bucket(4,o_orderkey)" in vals, (
            "merge dropped a key-derived bucket value the rewrite "
            "provably preserves"
        )
    # year-spec table: the o_year entry is assigned by the merge's
    # column update and must NOT carry — rows whose year the source
    # moved stay findable under the new value
    d2 = str(tmp_path / "mrgyear")
    os.makedirs(os.path.join(d2, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d2, tl.DATA_SUBDIR))
    tl.set_partition_spec(d2, ["o_year"])
    w_year = orders.withColumn(
        "o_year", tl.F.date_format("o_orderdate", "yyyy"))
    tl.append_partitioned(spark, d2, w_year, "P")
    src2 = w_year.filter("o_year = '1995' AND o_orderkey % 3 = 0") \
        .withColumn("o_year", tl.F.lit("2099"))
    n_moved = src2.count()
    assert n_moved > 0
    tl.merge_table(spark, d2, src2)
    got = tl.partition_pruned_read(
        spark, d2, {"o_year": "2099"}).count()
    assert got == n_moved, (
        "merge-moved rows were lost to pruning — a stale o_year "
        "carried through the rewrite"
    )


def test_cstats_carry_through_dml(spark, tmp_path):
    """Generalized column bounds survive DML exactly like partition
    values: a DELETE rewrite holds a subset of its origin's rows, so
    the origin's bounds stay true and carry; an UPDATE that assigns
    the bounded column drops ITS bound (a stale one would lose the
    moved rows) while unassigned bounds carry."""
    from gemmsql.datamodel import load_table

    d = str(tmp_path / "cstatsdml")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    )
    for i, status in enumerate(("1-URGENT", "3-MEDIUM", "5-LOW")):
        part = orders.filter(
            tl.F.col("o_orderpriority") == status)
        if part.limit(1).count() == 0:
            continue
        tl.append_with_stats(
            spark, d, part, f"S{i}.parquet",
            ["o_totalprice", "o_orderpriority"],
        )
    n_files = len(sr.snapshot_files(spark, d).collect())
    assert n_files >= 2
    # bounds prune before DML
    cand0 = tl.candidate_files_where(
        spark, d, "o_orderpriority", "1-URGENT", "1-URGENT")
    assert len(cand0) == 1
    # DELETE: bounds carry, pruning stays as tight
    tl.delete_where_cow(spark, d, "o_orderkey % 5 = 0")
    cand1 = tl.candidate_files_where(
        spark, d, "o_orderpriority", "1-URGENT", "1-URGENT")
    assert len(cand1) == 1, (
        "a CoW delete rewrite dropped its origin's column bounds"
    )
    got = tl.stats_pruned_read_where(
        spark, d, "o_orderpriority", "1-URGENT", "1-URGENT").count()
    want = tl.snapshot_read(spark, d).filter(
        "o_orderpriority = '1-URGENT'").count()
    assert got == want > 0
    # UPDATE assigning the bounded column: ITS bound drops, the
    # moved rows stay findable, the OTHER column's bound carries
    tl.update_where_cow(
        spark, d, "o_orderpriority = '3-MEDIUM' AND o_orderkey % 2 = 0",
        {"o_orderpriority": "'9-MOVED'"},
    )
    moved = tl.snapshot_read(spark, d).filter(
        "o_orderpriority = '9-MOVED'").count()
    assert moved > 0
    got9 = tl.stats_pruned_read_where(
        spark, d, "o_orderpriority", "9-MOVED", "9-MOVED").count()
    assert got9 == moved, (
        "update-moved rows were lost to a stale carried bound"
    )
    live = sr.snapshot_files(spark, d).collect()
    upd = [r for r in live if r["path"].startswith("UPD")]
    assert upd
    for r in upd:
        cs = dict(r["cstats"] or {})
        assert "o_orderpriority" not in cs
        assert "o_totalprice" in cs, (
            "an unassigned column's bound should carry through UPDATE"
        )


def test_merged_cstats_and_compaction_carry(spark, tmp_path):
    """Compaction merges generalized bounds defensively: a column
    keeps a bound only when EVERY victim bounds it under one type
    tag (numeric compare for nums, lexicographic otherwise); any
    unbounded victim makes the merged file unbounded."""
    # unit: the merge rules
    a = {"cstats": {"x": ["num", "10", "90"], "s": ["str", "b", "d"]}}
    b = {"cstats": {"x": ["num", "9", "100"], "s": ["str", "a", "c"],
                    "only_b": ["num", "1", "2"]}}
    got = tl._merged_cstats([a, b])
    assert got == {"x": ["num", "9", "100"], "s": ["str", "a", "d"]}
    # numeric compare, not lexicographic: "9" < "10" numerically
    assert got["x"][1] == "9"
    # one unbounded victim -> no bounds at all
    assert tl._merged_cstats([a, {"cstats": None}]) == {}
    # type-tag mismatch drops the column
    c = {"cstats": {"x": ["str", "0", "z"]}}
    assert tl._merged_cstats([a, c]) == {}

    # composition: partitioned files that ALSO carry bounds keep a
    # merged bound through compact_partitions (white-box staging:
    # the partition writer records key stats; attach column bounds
    # to its adds the way append_with_stats does)
    from gemmsql.datamodel import load_table

    d = str(tmp_path / "cstatscomp")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["o_year"])
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate",
    ).withColumn("o_year", tl.F.date_format("o_orderdate", "yyyy"))
    for tag, flt in (("A", "o_orderkey % 2 = 0"),
                     ("B", "o_orderkey % 2 = 1")):
        adds = tl._stage_partitioned_files(
            spark, d, tl._snapshot(d), orders.filter(flt), tag)
        for add in adds:
            f = spark.read.parquet(
                os.path.join(d, tl.DATA_SUBDIR, add["path"]))
            st = f.agg(tl.F.min("o_totalprice").alias("mn"),
                       tl.F.max("o_totalprice").alias("mx")).collect()[0]
            add["cstats"] = {
                "o_totalprice": ["num", str(st["mn"]), str(st["mx"])]}
        tl.commit_actions(d, adds)
    assert tl.compact_partitions(spark, d, "C") is not None
    live = sr.snapshot_files(spark, d).collect()
    compacted = [r for r in live if r["path"].startswith("C-")]
    assert compacted
    for r in compacted:
        cs = dict(r["cstats"] or {})
        assert "o_totalprice" in cs, (
            "compaction dropped bounds every victim carried"
        )
    # and the merged bound still prunes correctly
    hi = tl.snapshot_read(spark, d).agg(
        tl.F.max("o_totalprice")).collect()[0][0]
    got = tl.stats_pruned_read_where(
        spark, d, "o_totalprice", float(hi), None).count()
    want = tl.snapshot_read(spark, d).filter(
        tl.F.col("o_totalprice") >= float(hi)).count()
    assert got == want > 0


def test_spj_outer_joins_keep_unmatched_buckets(spark, tmp_path):
    """Join-type bucket coverage (r15 third-session review): a
    bucket with files on only ONE side still emits rows under
    left/anti/full joins — skipping it (correct for inner/semi)
    would silently drop every unmatched row in that bucket."""
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority",
    )
    # right side holds ONLY bucket 0 (keys % 4 == 0)
    dims = orders.select(
        "o_orderkey",
        tl.F.col("o_orderpriority").alias("prio2"),
    ).filter("o_orderkey % 4 = 0")
    da, db = str(tmp_path / "spjoA"), str(tmp_path / "spjoB")
    for d, df in ((da, orders), (db, dims)):
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        tl.set_partition_spec(d, ["bucket(4,o_orderkey)"])
        tl.append_partitioned(spark, d, df, "B")
    want_left = orders.join(
        dims.withColumnsRenamed({"prio2": "r_prio2"}),
        on="o_orderkey", how="left",
    )
    got_left = tl.storage_partitioned_join(
        spark, da, db, how="left")
    assert sorted(map(tuple, got_left.collect())) == \
        sorted(map(tuple, want_left.collect()))
    assert got_left.count() == orders.count()  # no left row lost
    # anti: buckets 1-3 pass through wholesale
    want_anti = orders.join(dims, on="o_orderkey", how="left_anti")
    got_anti = tl.storage_partitioned_join(
        spark, da, db, how="left_anti")
    assert sorted(map(tuple, got_anti.collect())) == \
        sorted(map(tuple, want_anti.collect()))
    # inner stays intersection-only and shuffle-free
    got_inner = tl.storage_partitioned_join(spark, da, db)
    p = got_inner._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p
    assert got_inner.count() == dims.count()


def test_spec_alias_never_shadows_live_entry(spark, tmp_path):
    """ADVICE r16 (medium): after a rename frees a spec source's old
    name, a NEW column added under that freed name and included in
    the spec must OWN its entry string — the renamed entry's
    historical alias may not shadow it.  Pre-fix, _spec_alias_map
    mapped 'o_orderpriority' -> 'prio', so _canon_part_vals keyed the
    new column's recorded values under the renamed entry and a pruned
    read on the OLD entry compared against the wrong value — pruning
    away matching files (lost rows)."""
    from gemmsql.datamodel import load_table

    d = str(tmp_path / "aliasshadow")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ).filter("o_orderkey % 3 = 0")
    tl.set_partition_spec(d, ["o_orderpriority"])
    tl.append_partitioned(spark, d, orders, "A")
    # free the name: rename the spec source (the spec follows in the
    # same commit — the r16 field-id feature)
    tl.rename_column(spark, d, "o_orderpriority", "prio")
    assert tl.partition_spec(spark, d) == ["prio"]
    # reuse the freed name for a brand-new column, bring it into the
    # spec, and land files recording values for BOTH entries
    tl.add_column_mapped(spark, d, "o_orderpriority", "string")
    # the NEW column FIRST: the shadow only fires when the renamed
    # entry's historical-alias loop runs AFTER the new entry seeded
    # its identity (spec order is entry-processing order)
    tl.set_partition_spec(d, ["o_orderpriority", "prio"])
    fresh = orders.withColumnsRenamed(
        {"o_orderpriority": "prio"}
    ).withColumn(
        "o_orderpriority",
        tl.F.when(tl.F.col("o_orderkey") % 2 == 0, "even")
        .otherwise("odd"),
    )
    tl.append_partitioned(spark, d, fresh, "B")
    # identity seeds win: the live entry maps to ITSELF, never to
    # the renamed entry whose source once carried the name
    am = tl._spec_alias_map(tl._snapshot(d))
    assert am["o_orderpriority"] == "o_orderpriority"
    assert am["prio"] == "prio"
    # behavior: pruning on the RENAMED entry keeps every file of that
    # priority from BOTH appends (pre-fix the B files' recorded
    # o_orderpriority=even/odd value shadowed their prio value and
    # pruned matching files — rows silently lost)
    prio_val = orders.select("o_orderpriority").first()[0]
    got = tl.partition_pruned_read(spark, d, {"prio": prio_val})
    want_n = (
        orders.filter(tl.F.col("o_orderpriority") == prio_val).count()
        + fresh.filter(tl.F.col("prio") == prio_val).count()
    )
    assert got.count() == want_n
    # and pruning on the NEW entry returns exactly its rows (old
    # files have no recorded value -> candidates, NULL-backfilled
    # residual filters them out)
    got_new = tl.partition_pruned_read(
        spark, d, {"o_orderpriority": "even"})
    assert got_new.count() == fresh.filter("prio IS NOT NULL")\
        .filter(tl.F.col("o_orderkey") % 2 == 0).count()


def test_empty_version_time_travel_answers_schema_of_its_era(
    spark, tmp_path
):
    """ADVICE r16 (low): a time-travel read of a fully-emptied
    HISTORICAL version on an unmapped table answers its schema from
    a footer of its OWN era — post-dated columns from a future add
    must not leak into the empty frame's schema."""
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice")
    d = str(tmp_path / "emptyera")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    a = orders.limit(5)
    tl._write_one_file(a, os.path.join(d, tl.DATA_SUBDIR, "A.parquet"))
    b = orders.limit(3).withColumn("extra", tl.F.lit(1.0))
    tl._write_one_file(b, os.path.join(d, tl.DATA_SUBDIR, "B.parquet"))
    commits = {
        0: [_add(0, "A.parquet", rows=5)],
        1: [_rm(1, "A.parquet")],
        2: [_add(2, "B.parquet", rows=3)],
    }
    for v, lines in commits.items():
        with open(os.path.join(
                d, tl.LOG_SUBDIR, f"{v:08d}.json"), "w") as f:
            f.write("\n".join(json.dumps(x) for x in lines) + "\n")
    got = tl.snapshot_read(spark, d, 1)
    assert got.count() == 0
    assert got.columns == a.columns, got.columns  # no 'extra' leak
    # latest still reads B's schema
    assert "extra" in tl.snapshot_read(spark, d).columns


def test_mor_update_nondeterministic_predicate_single_evaluation(
    spark, tmp_path
):
    """ADVICE r16 (low): update_where_mor evaluates its matched scan
    ONCE — a non-deterministic predicate cannot mark one row set
    dead while appending a different set.  Pre-fix the DV build and
    the appended rows re-ran the filter independently: rows lost
    (marked dead, not re-appended) and duplicated (appended without
    dying) in the same commit.  (Plain rand() would NOT catch this:
    Spark assigns it a fixed seed at analysis time, so the shared
    `matched` plan replays identically — the registered
    nondeterministic UDF below genuinely re-draws per job, the way
    AQE-relayouted rand() partitions or wall-clock-dependent
    predicates do at scale.)"""
    import random

    from pyspark.sql.functions import udf

    spark.udf.register(
        "nd_half",
        udf(lambda k: random.random() < 0.5, "boolean")
        .asNondeterministic(),
    )
    base = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "ndupd")
    shutil.copytree(base, d)
    n0 = tl.snapshot_read(spark, d).count()
    tl.update_where_mor(
        spark, d, "nd_half(o_orderkey) AND o_orderstatus = 'O'",
        {"o_totalprice": "o_totalprice + 1"},
    )
    mor = tl.snapshot_read_mor(spark, d)
    assert mor.count() == n0
    assert mor.groupBy("o_orderkey").count()\
        .filter("count > 1").count() == 0


def test_posdel_actions_record_encoding_and_skip_footer_probe(
    spark, tmp_path, monkeypatch
):
    """VERDICT r16 missing #4: every posdel writer stamps its file's
    encoding into the action ("enc": "dv"), so MOR planning
    classifies PD files from pure log metadata — zero per-file
    footer probes on current logs.  The strict monkeypatch below
    turns any fallback probe into a test failure."""
    base = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "encdv")
    shutil.copytree(base, d)
    tl.delete_positions_mor(
        spark, d, "o_orderstatus = 'F' AND o_orderkey % 7 = 0")
    tl.update_where_mor(
        spark, d, "o_orderstatus = 'O' AND o_orderkey % 13 = 0",
        {"o_totalprice": "o_totalprice + 1"},
    )
    # the committed actions carry the encoding
    pds = [a for a in tl._snapshot(d).deletes
           if a["a"] == "posdel"]
    assert pds and all(a.get("enc") == "dv" for a in pds), pds
    # planning never probes a footer: the fallback refuses loudly
    orig = tl._pd_encoding

    def strict(spark_, path, enc):
        assert enc in ("dv", "rows"), \
            f"footer probe required for {path}"
        return orig(spark_, path, enc)

    monkeypatch.setattr(tl, "_pd_encoding", strict)
    assert tl.snapshot_read_mor(spark, d).count() > 0
    tl.compact_delete_files(spark, d)
    # the compaction's merged DV carries enc too, and still plans
    # probe-free
    pds2 = [a for a in tl._snapshot(d).deletes
            if a["a"] == "posdel"]
    assert len(pds2) == 1 and pds2[0].get("enc") == "dv"
    assert tl.snapshot_read_mor(spark, d).count() > 0


def test_legacy_posdel_without_enc_probes_once_then_caches(
    spark, tmp_path
):
    """Format evolution: a posdel action from before the ``enc``
    field (hand-written legacy row-list file, no enc key) still
    reads — ONE cached footer probe per immutable file, so even
    legacy planning is O(1) probes in steady state."""
    base = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "enclegacy")
    shutil.copytree(base, d)
    # hand-craft a legacy (path,pos) row-list PD file + enc-less line
    target = tl.snapshot_read(spark, d).select(
        tl.F.regexp_extract(
            tl.F.col("_metadata.file_path"), "[^/]+$", 0).alias("path"),
        tl.F.col("_metadata.row_index").alias("pos"),
        "o_orderkey",
    ).filter("o_orderkey % 17 = 0").select("path", "pos")
    n_dead = target.count()
    assert n_dead > 0
    dest = os.path.join(d, tl.DATA_SUBDIR, "PDLEGACY.parquet")
    tl._write_one_file(target, dest, sort_key="path")
    v = tl._latest_version(d) + 1
    with open(os.path.join(d, tl.LOG_SUBDIR, f"{v:08d}.json"),
              "w") as f:
        f.write(json.dumps({
            "v": v, "a": "posdel", "path": "PDLEGACY.parquet",
            "n_rows": n_dead,
            "n_bytes": os.path.getsize(dest)}) + "\n")
    n0 = tl.snapshot_read(spark, d, v - 1).count()
    tl._PD_ENC_CACHE.clear()
    assert tl.snapshot_read_mor(spark, d).count() == n0 - n_dead
    assert tl._PD_ENC_CACHE.get(dest) == "rows"  # probed, cached


def test_restore_reemits_posdel_with_encoding(spark, tmp_path):
    """A RESTORE that re-adds a retired posdel carries the recorded
    encoding through ``_action_from_record`` — the re-emitted state
    plans probe-free like the original."""
    base = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "encrestore")
    shutil.copytree(base, d)
    v_del = tl.delete_positions_mor(
        spark, d, "o_orderstatus = 'F' AND o_orderkey % 7 = 0")
    want = tl.snapshot_read_mor(spark, d).count()
    tl.materialize_deletes(spark, d)  # retires the PD file
    tl.restore_table(spark, d, v_del)  # re-emits it
    pds = [a for a in tl._snapshot(d).deletes
           if a["a"] == "posdel"]
    assert pds and all(a.get("enc") == "dv" for a in pds), pds
    assert tl.snapshot_read_mor(spark, d).count() == want


def test_spj_branch_plan_beyond_broadcast_boundary(spark, tmp_path):
    """VERDICT r16 missing #2, made executable: the hand-built SPJ's
    zero-exchange pin holds while a branch's join side is
    BROADCASTABLE (fixture scale — the existing pin).  Past the
    auto-broadcast threshold (forced here with
    autoBroadcastJoinThreshold=-1, the 100 TB regime) each branch
    plans its own sort-merge join: `Exchange hashpartitioning`
    appears, but every branch shuffles only its bucket-group slice —
    the union is a SHARDED shuffle join bounded by max_branches, in
    aggregate never more data moved than the ONE full shuffle a
    plain join pays (Spark's native SPJ stays exchange-free at any
    scale via the scan-reported KeyGroupedPartitioning; this build's
    union-of-branches trades that for an explicit plan).  Results
    are identical in both regimes.  SCALE.md round-17 documents the
    boundary next to the mechanism."""
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority",
    )
    dims = orders.select(
        "o_orderkey",
        tl.F.col("o_orderpriority").alias("prio2"),
    ).filter("o_orderkey % 2 = 0")
    da, db = str(tmp_path / "spjbA"), str(tmp_path / "spjbB")
    for d, df in ((da, orders), (db, dims)):
        os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
        os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
        tl.set_partition_spec(d, ["bucket(4,o_orderkey)"])
        tl.append_partitioned(spark, d, df, "B")
    want = sorted(map(tuple, orders.join(
        dims.withColumnsRenamed({"prio2": "r_prio2"}),
        on="o_orderkey").collect()))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = tl.storage_partitioned_join(
            spark, da, db, max_branches=2)
        p = got._jdf.queryExecution().executedPlan().toString()
        n = p.count("Exchange hashpartitioning")
        # the degraded regime: per-branch SMJ exchanges, present but
        # BOUNDED — two sides per branch, max_branches branches
        assert 0 < n <= 2 * 2, f"{n} exchanges: {p}"
        assert sorted(map(tuple, got.collect())) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_pruned_reads_subtract_live_mor_deletes(spark, tmp_path):
    """r17 regression (found by the partitioned-DV-DML composition
    test): the pruned readers built scans straight from the
    candidate list, bypassing snapshot_read's state-based MOR gate —
    a pruned read of a table with LIVE delete files silently
    RESURRECTED deleted rows.  All three row-returning pruned
    readers now run the snapshot_read_mor subtraction on the pruned
    scan (posdel pairs + sequence-rule keydels)."""
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        "o_orderdate")
    d = str(tmp_path / "prunemor")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["o_orderpriority"])
    tl.append_partitioned(spark, d, orders, "A")
    prio = orders.select("o_orderpriority").first()[0]
    # a positional delete AND an equality delete, both live
    tl.delete_positions_mor(spark, d, "o_orderkey % 6 = 1")
    kd_keys = orders.filter("o_orderkey % 6 = 3")\
        .select("o_orderkey")
    tl.delete_keys_mor(spark, d, kd_keys)
    alive = orders.filter(
        "o_orderkey % 6 NOT IN (1, 3)")
    # identity-partition pruned read
    got = tl.partition_pruned_read(
        spark, d, {"o_orderpriority": prio})
    want = alive.filter(tl.F.col("o_orderpriority") == prio)
    assert got.count() == want.count()
    assert got.filter("o_orderkey % 6 IN (1, 3)").count() == 0
    # source-predicate pruned read
    got2 = tl.partition_pruned_read_where(
        spark, d, {"o_orderpriority": prio})
    assert got2.count() == want.count()
    # generalized-bounds pruned read (no cstats recorded -> all
    # files candidates; the subtraction must still apply)
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    got3 = tl.stats_pruned_read_where(
        spark, d, "o_orderkey", 0, mx)
    assert got3.count() == alive.count()
    assert got3.filter("o_orderkey % 6 IN (1, 3)").count() == 0


def test_materialize_carries_partition_values(spark, tmp_path):
    """r17: a materialized rewrite holds exactly a subset of its
    origin's rows, so the origin's partition values carry — DELETE
    materialization on a partitioned table keeps pruning precise
    (one candidate per partition), instead of degrading every
    rewritten file into a forever-candidate."""
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    d = str(tmp_path / "matpart")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["o_orderpriority"])
    tl.append_partitioned(spark, d, orders, "A")
    tl.delete_positions_mor(spark, d, "o_orderkey % 3 = 0")
    tl.materialize_deletes(spark, d)
    prios = [r[0] for r in orders.select("o_orderpriority")
             .distinct().collect()]
    alive = orders.filter("o_orderkey % 3 != 0")
    for p in prios:
        cand = tl.partition_candidate_files(
            spark, d, {"o_orderpriority": p})
        assert len(cand) == 1, [r["path"] for r in cand]
        assert cand[0]["part"], cand[0]
        got = tl.partition_pruned_read(
            spark, d, {"o_orderpriority": p})
        assert got.count() == alive.filter(
            tl.F.col("o_orderpriority") == p).count()


def test_footer_stats_match_aggregation(spark, tmp_path):
    """r17 optimization guard: the partitioned writer and the keydel
    verb now record their file stats from the written parquet
    FOOTERS instead of a second aggregation pass — the recorded
    n_rows / key range / date range must equal a direct aggregation
    bit-for-bit, including a space-valued and a NULL partition
    value (the dir-name round-trip the footer path relies on)."""
    df = spark.createDataFrame(
        [
            (1, "A B", "1995-01-02", 10.0),
            (2, "A B", "1995-03-04", 11.0),
            (5, "C", "1996-07-08", 12.0),
            (9, None, "1994-11-30", 13.0),
        ],
        "o_orderkey long, seg string, o_orderdate string,"
        " o_totalprice double",
    ).withColumn("o_orderdate", tl.F.col("o_orderdate").cast("date"))
    d = str(tmp_path / "footstats")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.set_partition_spec(d, ["seg"])
    tl.append_partitioned(spark, d, df, "P")
    want = {
        tuple(r["parts"]): r
        for r in df.groupBy("seg").agg(
            tl.F.count("*").alias("n"),
            tl.F.min("o_orderkey").alias("mnk"),
            tl.F.max("o_orderkey").alias("mxk"),
            tl.F.min(tl.F.date_format("o_orderdate", "yyyy-MM-dd"))
            .alias("mnd"),
            tl.F.max(tl.F.date_format("o_orderdate", "yyyy-MM-dd"))
            .alias("mxd"),
        ).withColumn(
            "parts",
            tl.F.array(tl.F.concat_ws(
                "=", tl.F.lit("seg"),
                tl.F.coalesce(
                    tl.F.col("seg"),
                    tl.F.lit("__HIVE_DEFAULT_PARTITION__")),
            )),
        ).collect()
    }
    seen = 0
    for p in sorted(tl._glob.glob(os.path.join(d, tl.LOG_SUBDIR, "*.json"))):
        with open(p) as f:
            for ln in f:
                a = json.loads(ln)
                if a.get("a") != "add":
                    continue
                seen += 1
                w = want[tuple(a["part"])]
                assert a["n_rows"] == w["n"], a
                assert a["min_key"] == w["mnk"], a
                assert a["max_key"] == w["mxk"], a
                assert a["min_date"] == w["mnd"], a
                assert a["max_date"] == w["mxd"], a
    assert seen == len(want) == 3
    # keydel stats from the written key file's footer
    keys = df.filter("o_orderkey % 2 = 1").select("o_orderkey")
    tl.delete_keys_mor(spark, d, keys)
    kd = [r for r in tl._snapshot(d).deletes if r["a"] == "keydel"]
    assert len(kd) == 1
    assert kd[0]["n_rows"] == 3
    assert kd[0]["min_key"] == 1 and kd[0]["max_key"] == 9


def test_versioned_pruning_respects_checkpoint_horizon(spark, tmp_path):
    """partition_candidate_files(version=V) must replay through the
    checkpoint AT-OR-BELOW V (ADVICE r17): seeding from the LATEST
    checkpoint and filtering by v would mis-resolve files removed or
    re-added in (V, ckpt_v] on a truncated log — a time-travel read
    through pruning silently losing rows.  Below the horizon it must
    raise like snapshot_read; at a retained version it must name
    exactly the snapshot's files."""
    import pytest

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "vprune")
    shutil.copytree(src_tbl, d)
    want_v2 = _live(spark, d, 2)
    want_latest = _live(spark, d)

    tl.expire_log(spark, d, 2)
    # below the checkpoint horizon: loud, same contract as the read
    with pytest.raises(ValueError, match="log expired"):
        tl.partition_candidate_files(spark, d, {}, version=0)
    # retained versioned replay == the snapshot's file set
    assert sorted(
        r["path"]
        for r in tl.partition_candidate_files(spark, d, {}, version=2)
    ) == want_v2
    assert sorted(
        r["path"] for r in tl.partition_candidate_files(spark, d, {})
    ) == want_latest


def test_driver_replay_bound_refuses_past_threshold(spark, tmp_path, monkeypatch):
    """r18 (VERDICT r17 #5): the driver-side metadata replays hold one
    ~500 B dict per live file — past GEMMSQL_MAX_DRIVER_FILE_RECORDS
    they must refuse loudly instead of silently exhausting the driver.
    A synthetic many-file log exercises both sides of the bound."""
    import pytest

    d = _mklog(tmp_path, {
        0: [_add(0, f"f{i:05d}.parquet") for i in range(500)],
        1: [_add(1, f"g{i:05d}.parquet") for i in range(500)],
    })
    # comfortably under the default bound: replay works
    recs = tl._snapshot(d).files
    assert len(recs) == 1000
    # past a (monkeypatched) bound: loud, named refusal on both replays
    monkeypatch.setattr(tl, "_MAX_DRIVER_FILE_RECORDS", 999)
    with pytest.raises(ValueError, match="GEMMSQL_MAX_DRIVER_FILE_RECORDS"):
        tl._snapshot(d)
    with pytest.raises(ValueError, match="GEMMSQL_MAX_DRIVER_FILE_RECORDS"):
        tl.streaming_tablelog_gate_dir(spark, d)
    # at the bound exactly: fine (the bound is inclusive)
    monkeypatch.setattr(tl, "_MAX_DRIVER_FILE_RECORDS", 1000)
    assert len(tl._snapshot(d).files) == 1000


def test_version_past_the_latest_commit_refuses_naming_the_latest(
        spark, tmp_path):
    """A version above the latest commit was never written: the
    refusal names the asked and the latest version, not an expiry."""
    d = _mklog(tmp_path, {0: [_add(0, "a.parquet")],
                          1: [_add(1, "b.parquet")]})
    for read in (lambda: tl._snapshot(d, 5),
                 lambda: tl.snapshot_read(spark, d, 5)):
        with pytest.raises(ValueError,
                           match="version 5 .*latest version is 1") as e:
            read()
        assert "log expired" not in str(e.value)


def test_streaming_gate_over_a_log_without_adds(spark, tmp_path):
    """A log holding only metadata actions has an empty add index: the
    gate must still analyze (no untyped empty map lookup) and count
    each version's actions with NULL-free zero row totals."""
    d = _mklog(tmp_path, {
        0: [{"v": 0, "a": "meta", "schema_cols": ["o_orderkey"]}],
        1: [{"v": 1, "a": "property", "path": "property:k",
             "min_date": "x"}],
    })
    got = {r["version"]: r for r in
           tl.streaming_tablelog_gate_dir(spark, d).collect()}
    assert sorted(got) == [0, 1]
    for r in got.values():
        assert (r["n_add"], r["n_remove"]) == (0, 0)
        assert (r["rows_added"], r["rows_removed"]) == (0, 0)


def _by_path(rows):
    return {r["path"]: r for r in rows}


def test_driver_snapshot_records_match_spark_replay(spark, tmp_path):
    """The driver-side snapshot every planner reads returns the
    LOG_SCHEMA row shape: at every version, and again from a
    checkpoint after expiry, _snapshot's files equal the Spark
    replay's snapshot_files rows and its deletes equal its
    snapshot_delete_files rows (tests/spark_replay.py) — cstats,
    part, seq (RESTORE re-emits) and keydel records included.  A
    checkpoint at or above a live keydel's commit seeds adds and
    metadata only: the keydel still folds from its retained commit
    and still subtracts in the MOR read."""
    from gemmsql.datamodel import load_table

    d = str(tmp_path / "shape")
    shutil.copytree(tl.stage_versioned_table(spark, SF_SMOKE), d)
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
    tl.append_with_stats(                                       # v4
        spark, d, orders.filter("o_orderkey % 3 = 0"), "S0.parquet",
        ["o_totalprice", "o_orderpriority"])
    tl.restore_table(spark, d, 1)             # v5: re-adds with seq
    tl.set_partition_spec(d, ["o_orderpriority"])               # v6
    tl.append_partitioned(                                      # v7
        spark, d, orders.filter("o_orderkey % 3 = 1"), "P0")
    tl.append_with_stats(                                       # v8
        spark, d, orders.filter("o_orderkey % 3 = 2"), "S1.parquet",
        ["o_orderdate"])
    tl.delete_keys_mor(                                         # v9
        spark, d,
        orders.filter("o_orderkey % 7 = 0").select("o_orderkey"))

    def check(v):
        snap = tl._snapshot(d, v)
        got = _by_path(snap.files)
        want = _by_path(r.asDict()
                        for r in sr.snapshot_files(spark, d, v).collect())
        assert got == want, v
        got_d = _by_path(snap.deletes)
        want_d = _by_path(r.asDict() for r in
                          sr.snapshot_delete_files(spark, d, v).collect())
        assert got_d == want_d, v
        return got

    seen = [check(v) for v in range(10)]
    latest = seen[-1]
    assert any(r["seq"] is not None for r in latest.values())
    assert any(r["part"] for r in latest.values())
    assert any(r["cstats"] for r in latest.values())
    assert check(None) == latest
    assert tl._snapshot(d).deletes[0]["a"] == "keydel"
    # from a checkpoint: the pyarrow-read rows normalize to the same
    tl.expire_log(spark, d, 8)
    for v in (8, 9, None):
        assert check(v) == seen[8 if v == 8 else 9]
    # the newest checkpoint now sits at the keydel's own version
    n_mor = tl.snapshot_read_mor(spark, d).count()
    tl.write_checkpoint(spark, d, 9)
    for v in (8, 9, None):
        assert check(v) == seen[8 if v == 8 else 9]
    assert [r["a"] for r in tl._snapshot(d).deletes] == ["keydel"]
    assert tl.snapshot_read_mor(spark, d).count() == n_mor
    assert n_mor < tl.snapshot_read(
        spark, d, reader_features=("merge_on_read",)).count()


def _write_spark_file(spark, df, dest):
    tl._write_one_file(df, dest, sort_key=df.columns[0])
    return dest


def test_footer_bounds_equal_spark_min_max(spark, tmp_path):
    """The write-time footer bounds are Spark's own min/max: on long,
    double (with NaN and -0.0 inside the range), float, date, string
    and all-NULL columns they equal the aggregation's str() forms.
    Columns the footer cannot bound exactly — a zero-bounded double
    (Spark keeps the first zero it meets), a timestamp — go to the
    aggregation, and append_with_stats records the same strings
    either way."""
    import datetime as dt

    import pyarrow.parquet as pq

    rows = [
        (3, 2.5, -0.0, 1.5, dt.date(1995, 3, 1), "b", None,
         dt.datetime(1995, 3, 1, 12)),
        (1, float("nan"), 0.0, -2.25, dt.date(1994, 1, 9), "zz", None,
         dt.datetime(1994, 1, 9, 1)),
        (2, -0.0, -0.0, None, None, "a", None, None),
        (4, -7.0, 3.0, 0.5, dt.date(1996, 12, 31), None, None,
         dt.datetime(1996, 12, 31, 23)),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, x double, z double, f float, d date, "
        "s string, n double, t timestamp")
    dest = _write_spark_file(spark, df, str(tmp_path / "f.parquet"))
    cols = df.columns
    st = spark.read.parquet(dest).agg(
        *[tl.F.min(c).alias(f"mn_{c}") for c in cols],
        *[tl.F.max(c).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    want = {c: None if st[f"mn_{c}"] is None
            else (str(st[f"mn_{c}"]), str(st[f"mx_{c}"])) for c in cols}
    assert want["x"] == ("-7.0", "nan")

    bounds, inexact = tl._footer_bounds(
        pq.ParquetFile(dest).metadata, cols)
    assert sorted(inexact) == ["t", "z"]
    for c, b in bounds.items():
        got = None if b is None else (str(b[0]), str(b[1]))
        assert got == want[c], c

    d = str(tmp_path / "tbl")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    tl.append_with_stats(spark, d, spark.read.parquet(dest),
                         "S0.parquet", cols)
    (rec,) = tl._snapshot(d).files
    assert {c: tuple(b[1:]) for c, b in rec["cstats"].items()} == {
        c: w for c, w in want.items() if w is not None}
    assert rec["cstats"]["x"][0] == "num"
    assert rec["cstats"]["d"][0] == "str"


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(f"{group}-done", "")
    return out, jobs


def test_append_and_pruning_plan_without_metadata_jobs(spark, tmp_path):
    """Planning reads the driver snapshot and write-time bounds read
    the written footer: candidate_files_where launches no Spark job,
    and an append_with_stats on DATE/double stat columns launches
    exactly the jobs of its one file write."""
    import datetime as dt

    rows = [(k, 10.0 + k, dt.date(1995, 1, 1) + dt.timedelta(days=k))
            for k in range(200)]
    src_path = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, o_orderdate date"
    ).coalesce(1).write.parquet(src_path)
    src = spark.read.parquet(src_path)
    d = str(tmp_path / "tbl")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    stat_cols = ["o_orderdate", "o_totalprice"]

    _, write_jobs = _jobs_in(spark, "write-only", lambda: (
        tl._write_one_file(src, str(tmp_path / "probe.parquet"))))
    assert write_jobs
    v, append_jobs = _jobs_in(spark, "append", lambda: (
        tl.append_with_stats(spark, d, src, "S0.parquet", stat_cols)))
    assert v == 0
    assert len(append_jobs) == len(write_jobs)
    (rec,) = tl._snapshot(d).files
    assert rec["cstats"] == {
        "o_orderdate": ["str", "1995-01-01", "1995-07-19"],
        "o_totalprice": ["num", "10.0", "209.0"],
    }
    assert (rec["min_date"], rec["max_date"]) == (
        "1995-01-01", "1995-07-19")

    cand, cand_jobs = _jobs_in(spark, "plan", lambda: (
        tl.candidate_files_where(spark, d, "o_orderdate",
                                 dt.date(1995, 2, 1), dt.date(1995, 2, 3))))
    assert [r["path"] for r in cand] == ["S0.parquet"]
    assert cand_jobs == []


def test_merge_rewrites_keep_column_bounds(spark, tmp_path):
    """Finding merge_drops_date_bounds: MERGE assigns every non-key
    column, so an origin's bounds no longer hold for its rewrite —
    each rewrite (and the inserts file) records bounds from its own
    footer instead, so date-window pruning keeps leaving out a
    rewritten file whose rows all lie outside the window, and the
    pruned read still equals the filtered snapshot."""
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    ).withColumn("o_orderdate", tl.F.to_date("o_orderdate"))
    d = str(tmp_path / "mrg")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    eras = [("S0", "o_orderdate < DATE'1997-01-01'"),
            ("S1", "o_orderdate >= DATE'1997-01-01' "
                   "AND o_orderdate < DATE'1999-01-01'"),
            ("S2", "o_orderdate >= DATE'1999-01-01'")]
    for name, flt in eras:
        tl.append_with_stats(spark, d, orders.filter(flt),
                             f"{name}.parquet",
                             ["o_orderdate", "o_totalprice"])
    old = orders.filter(eras[0][1])
    kmax = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    upd = old.filter("o_orderkey % 4 = 0").withColumn(
        "o_totalprice", tl.F.col("o_totalprice") + 1)
    ins = old.limit(3).withColumn(
        "o_orderkey", tl.F.col("o_orderkey") + kmax)
    tl.merge_table(spark, d, upd.unionByName(ins))
    live = tl._snapshot(d).files
    mrg = [r for r in live if r["path"].startswith("MRG")]
    assert len(mrg) == 2  # the S0 rewrite and the inserts file
    for r in mrg:
        assert r["cstats"]["o_orderdate"][2] < "1997-01-01", r

    lo, hi = "1999-03-01", "1999-06-30"
    cand = {r["path"] for r in tl.candidate_files_where(
        spark, d, "o_orderdate", lo, hi)}
    assert cand == {"S2.parquet"}
    pruned = tl.stats_pruned_read_where(spark, d, "o_orderdate", lo, hi)
    full = tl.snapshot_read_mor(spark, d).filter(
        (tl.F.col("o_orderdate") >= lo) & (tl.F.col("o_orderdate") <= hi))
    agg = [tl.F.count("*"), tl.F.sum("o_orderkey"),
           tl.F.sum(tl.F.expr(tl._CENTS))]
    assert pruned.agg(*agg).collect() == full.agg(*agg).collect()
    assert full.count() > 0


def test_timestamp_orderdate_appends_with_day_bounds(spark, tmp_path):
    """Finding timestamp_orderdate: a Spark TIMESTAMP o_orderdate is
    written as INT96, whose footer carries no statistics.  The append
    bounds it from one aggregation over the written file — day
    granular, the dates of its min and max — and a pruned date-window
    read equals the filtered snapshot."""
    from gemmsql.datamodel import load_table

    import pyarrow.parquet as pq

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate",
    ).withColumn("o_orderdate",
                 tl.F.col("o_orderdate").cast("timestamp"))
    d = str(tmp_path / "ts")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    for name, flt in (("S0", "o_orderdate < '1998-01-01'"),
                      ("S1", "o_orderdate >= '1998-01-01'")):
        tl.append_with_stats(spark, d, orders.filter(flt),
                             f"{name}.parquet",
                             ["o_orderdate", "o_totalprice"])
    md = pq.ParquetFile(
        os.path.join(d, tl.DATA_SUBDIR, "S0.parquet")).metadata
    col = md.schema.column(md.schema.names.index("o_orderdate"))
    assert col.physical_type == "INT96"
    bounds = {r["path"]: r for r in tl._snapshot(d).files}
    want = orders.groupBy(
        (tl.F.col("o_orderdate") < "1998-01-01").alias("early")
    ).agg(
        tl.F.date_format(tl.F.min("o_orderdate"), "yyyy-MM-dd").alias("mn"),
        tl.F.date_format(tl.F.max("o_orderdate"), "yyyy-MM-dd").alias("mx"),
    )
    for r in want.collect():
        rec = bounds["S0.parquet" if r["early"] else "S1.parquet"]
        assert (rec["min_date"], rec["max_date"]) == (r["mn"], r["mx"])
    lo, hi = "1996-05-01", "1996-08-31"
    assert [r["path"] for r in tl.candidate_files_where(
        spark, d, "o_orderdate", lo, hi)] == ["S0.parquet"]
    pruned = tl.stats_pruned_read_where(spark, d, "o_orderdate", lo, hi)
    full = tl.snapshot_read_mor(spark, d).filter(
        (tl.F.col("o_orderdate") >= lo) & (tl.F.col("o_orderdate") <= hi))
    agg = [tl.F.count("*"), tl.F.sum("o_orderkey")]
    assert pruned.agg(*agg).collect() == full.agg(*agg).collect()
    assert full.count() > 0


def _fresh_table(d):
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))


def _bare_add(path):
    return {k: v for k, v in _add(0, path).items() if k != "v"}


def test_recreated_table_answers_txn_and_timestamps_from_its_own_log(
        spark, tmp_path):
    """A table deleted and recreated at the same path reads its OWN
    commit files: the old table's txn tag must not swallow the new
    table's first idempotent commit, and the old table's in-commit
    timestamps must not answer TIMESTAMP AS OF on the new one."""
    import pytest

    d = str(tmp_path / "recreated")
    log = os.path.join(d, tl.LOG_SUBDIR)
    _fresh_table(d)
    assert tl.commit_actions(
        d, [_bare_add("a.parquet")], app_txn=("app", 1)) == 0
    assert tl.commit_actions(
        d, [_bare_add("a-retry.parquet")], app_txn=("app", 1)) == 0
    old_ts = tl._commit_ts_of(os.path.join(log, "00000000.json"))
    assert tl.version_at_timestamp(d, old_ts) == 0

    _fresh_table(d)
    assert tl.commit_actions(d, [_bare_add("b.parquet")]) == 0
    assert tl.commit_actions(
        d, [_bare_add("c.parquet")], app_txn=("app", 1)) == 1
    assert sorted(os.listdir(log)) == ["00000000.json", "00000001.json"]
    with pytest.raises(ValueError, match="predates"):
        tl.version_at_timestamp(d, old_ts)


def test_recreated_table_gates_on_its_own_protocol(spark, tmp_path):
    """Protocol features come from the recreated table's own v0, not
    from what the path's previous table answered."""
    import pytest

    d = str(tmp_path / "reproto")
    _fresh_table(d)
    tl.commit_actions(d, [_bare_add("a.parquet")])
    assert tl.required_writer_features(d) == set()

    _fresh_table(d)
    tl.commit_actions(d, [
        {"a": "protocol", "reader_features": ["column_mapping"],
         "writer_features": ["check_constraints"]},
        _bare_add("b.parquet"),
    ])
    assert tl.required_reader_features(d) == {"column_mapping"}
    assert tl.required_writer_features(d) == {"check_constraints"}
    with pytest.raises(ValueError, match="column_mapping"):
        tl.snapshot_read(spark, d)


def test_expired_log_never_reissues_a_dropped_field_id(spark, tmp_path):
    """Dropped columns keep their field ids retired across log expiry:
    the checkpoint carries the meta actions, so a column added after
    expiry gets a fresh physical name and never reads the dropped
    column's bytes from old files."""
    from gemmsql.datamodel import load_table

    src_tbl = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "fids")
    shutil.copytree(src_tbl, d)
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    b7 = orders.filter(tl.F.expr(f"o_orderkey div {mx // 8 + 1}") == 7)

    tl.add_column_mapped(spark, d, "xcol", "string")
    (xfid,) = [e["fid"] for e in tl.column_mapping(spark, d)
               if e["logical"] == "xcol"]
    tl.append_mapped(spark, d, b7.withColumn("xcol", tl.F.lit("OLD-X")),
                     "X.parquet")
    tl.drop_column(spark, d, "xcol")
    v = tl.append_mapped(spark, d, b7, "Y.parquet")
    tl.expire_log(spark, d, v)

    tl.add_column_mapped(spark, d, "ycol", "string")
    (y,) = [e for e in tl.column_mapping(spark, d)
            if e["logical"] == "ycol"]
    assert y["fid"] > xfid and y["physical"] == f"fc{y['fid']}"
    got = tl.snapshot_read_mapped(spark, d)
    assert got.count() > 0
    assert got.filter(tl.F.col("ycol").isNotNull()).count() == 0


def test_log_reads_go_through_one_commit_and_one_checkpoint_reader():
    """Commit JSON is parsed only in ``_action_lines_of`` (the parse
    cache checked by inode, mtime and size), and checkpoint parquet is
    read off Spark only in ``_checkpoint_actions``.  A second raw
    reader is how a path-keyed cache or a drifting replay rule comes
    back.  Likewise ``_snapshot`` is the one walk over a table's
    commits: the other callers of the commit reader are not replays
    (the in-commit timestamp, the commit-time txn re-check, expiry's
    refusal scan, the streaming gate's add index and the live-commit
    gate's copy of one commit).  A second walk is how the replay
    rules drift apart again.  The Spark scan of the whole log
    (``read_log``) serves only the per-version audit and the vacuum
    plan, so a Spark liveness replay cannot come back unnoticed."""
    import ast
    import inspect

    readers = {"read_parquet", "read_table", "ParquetFile",
               "ParquetDataset", "dataset", "read_metadata"}
    loads, ckpt_reads, walks, log_scans = [], [], [], []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if isinstance(child, ast.Call) and isinstance(
                    child.func, ast.Attribute):
                f = child.func
                if f.attr == "loads" and getattr(f.value, "id", "") == "json":
                    loads.append(inner)
                if f.attr in readers and any(
                        isinstance(a, ast.Call)
                        and getattr(a.func, "id", "") == "_checkpoint_dir"
                        for a in child.args):
                    ckpt_reads.append(inner)
            if isinstance(child, ast.Call) and getattr(
                    child.func, "id", "") in (
                        "_action_lines_of", "_checkpoint_actions"):
                walks.append((child.func.id, inner))
            if isinstance(child, ast.Call) and getattr(
                    child.func, "id", "") == "read_log":
                log_scans.append(inner)
            visit(child, inner)

    visit(ast.parse(inspect.getsource(tl)), None)
    assert loads == ["_action_lines_of"]
    assert ckpt_reads == ["_checkpoint_actions"]
    assert sorted(fn for f, fn in walks if f == "_checkpoint_actions") \
        == ["_snapshot"]
    assert sorted(fn for f, fn in walks if f == "_action_lines_of") == [
        "_commit_ts_of", "_snapshot", "commit_actions", "expire_log",
        "streaming_cdf_ivm_gate", "streaming_tablelog_gate_dir",
    ]
    assert sorted(log_scans) == ["table_history_audit_dir", "vacuum_plan"]


@pytest.mark.parametrize("reader", ["snapshot_read_mor",
                                    "stats_pruned_read_where"])
def test_read_is_pinned_to_one_version_under_a_racing_commit(
        spark, tmp_path, monkeypatch, reader):
    """A read at "latest" plans from one snapshot: a materialize that
    commits between the read's planning and its data scan must not
    make the read mix two versions.  The table is the benchmark's
    table_rw step (seed 1) stopped before its materialize: one append,
    one merge and one live keydel.  The hook lands the materialize on
    the read's first parquet scan; the read still answers the version
    it started from, with the keydel's rows subtracted."""
    import datetime as dt

    from pyspark.sql.readwriter import DataFrameReader

    from perfbench import gen
    from perfbench.workloads import TableRW, _table_agg

    w = TableRW(1)
    w.prepare(spark, str(tmp_path))
    for call in w.step(merge=True):
        if call.name == "tablelog.materialize_deletes":
            break
        if call.name.endswith(("append_with_stats", "merge_table",
                               "delete_keys_mor")):
            call.act(call.plan())
    day = (w.steps * gen.DAYS_PER_BATCH - w.window_days) // 2
    lo = gen.DATE0 + dt.timedelta(days=day)
    hi = lo + dt.timedelta(days=w.window_days - 1)
    d = w.table
    orig = DataFrameReader.parquet
    armed = [True]

    def racing_parquet(self, *paths, **kw):
        if armed[0]:
            armed[0] = False
            tl.materialize_deletes(spark, d)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", racing_parquet)
    if reader == "snapshot_read_mor":
        got, want = tl.snapshot_read_mor(spark, d), w.model.summary()
    else:
        got = tl.stats_pruned_read_where(spark, d, "o_orderdate", lo, hi)
        want = w.model.summary(lo, hi)
    assert not armed[0]  # the commit landed inside the read
    assert tuple(_table_agg(got)) == want


# ------------------------------------------- one-job per-origin rewrites

_RW_SCHEMA = ("o_orderkey long, o_orderstatus string, o_totalprice double, "
              "o_orderdate date, o_orderpriority string")


def _rw_rows(keys, status=None):
    import datetime as dt

    return [(k, status or "OF"[k % 2], 100.0 + k,
             dt.date(1995, 1, 1) + dt.timedelta(days=k), f"{k % 5}-P")
            for k in keys]


def _rw_table(spark, tmp_path, name, ranges):
    """One append_with_stats file F<i> per key range, o_totalprice
    (100 + key) bounded."""
    d = str(tmp_path / name)
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    for i, (lo, hi) in enumerate(ranges):
        tl.append_with_stats(
            spark, d, spark.createDataFrame(_rw_rows(range(lo, hi)), _RW_SCHEMA),
            f"F{i}.parquet", ["o_totalprice"])
    return d


def _price_bound(rows):
    return {"o_totalprice": ["num", str(min(r[2] for r in rows)),
                             str(max(r[2] for r in rows))]}


def _check_rewrite(d, version, removes, expected, cstats):
    """The commit at ``version`` removes ``removes`` and adds exactly
    the files of ``expected`` (name -> rows in key order): each file
    holds those rows in that order, and its add action equals one
    built from those rows (``cstats``: name -> expected bounds)."""
    import pyarrow.parquet as pq

    with open(os.path.join(d, tl.LOG_SUBDIR, f"{version:08d}.json")) as f:
        acts = [json.loads(ln) for ln in f if ln.strip()]
    assert [a["path"] for a in acts if a["a"] == "remove"] == removes
    adds = [a for a in acts if a["a"] == "add"]
    assert [a["path"] for a in adds] == list(expected)
    for a in adds:
        rows = expected[a["path"]]
        path = os.path.join(d, tl.DATA_SUBDIR, a["path"])
        got = [tuple(r.values()) for r in pq.read_table(path).to_pylist()]
        assert got == rows, a["path"]
        ref = {"a": "add", "path": a["path"], "n_rows": len(rows),
               "n_bytes": os.path.getsize(path),
               "min_key": min(r[0] for r in rows),
               "max_key": max(r[0] for r in rows),
               "min_date": str(min(r[3] for r in rows)),
               "max_date": str(max(r[3] for r in rows)),
               "cstats": cstats[a["path"]]}
        assert {k: v for k, v in a.items() if k not in ("v", "ts")} == ref
    assert not [p for p in os.listdir(os.path.join(d, tl.DATA_SUBDIR))
                if p.endswith(".scratch")]


_RW_RANGES = [(0, 50), (50, 100), (100, 150), (300, 350)]


@pytest.mark.parametrize("verb", [
    "delete_where_cow", "update_where_cow", "merge_table",
    "materialize_deletes", "optimize_table"])
def test_rewrite_verbs_write_each_output_file_from_its_origin(
        spark, tmp_path, verb):
    """Each rewrite verb writes all its output files in one job: per
    touched origin (or OPTIMIZE bucket) one file of exactly its rows,
    sorted by key, under the verb's names, with an add action that
    matches the file; an origin or bucket left without rows writes no
    file and no add (F1 here, OPTIMIZE's bucket 2)."""
    d = _rw_table(spark, tmp_path, "t", _RW_RANGES)
    origin = {f"F{i}.parquet": _rw_rows(range(lo, hi))
              for i, (lo, hi) in enumerate(_RW_RANGES)}
    names = sorted(origin)
    carried = {}  # output file -> its origin's recorded bounds

    def keep(pred, prefix, paths=names):
        out = {}
        for k, p in enumerate(paths):
            rows = [r for r in origin[p] if not pred(r[0])]
            if rows:
                out[f"{prefix}-{k}.parquet"] = rows
                carried[f"{prefix}-{k}.parquet"] = _price_bound(origin[p])
        return out

    if verb == "delete_where_cow":
        v = tl.delete_where_cow(
            spark, d, "o_orderkey BETWEEN 50 AND 99 OR o_orderkey % 10 = 3")
        want = keep(lambda k: 50 <= k <= 99 or k % 10 == 3, "DEL4")
        _check_rewrite(d, v, names, want, carried)
    elif verb == "update_where_cow":
        v = tl.update_where_cow(spark, d, "o_orderkey % 10 = 3",
                                {"o_orderstatus": "'U'"})
        want = {f"UPD4-{k}.parquet": [
            (r[0], "U", *r[2:]) if r[0] % 10 == 3 else r for r in origin[p]]
            for k, p in enumerate(names)}
        # o_totalprice is not assigned: the origin's bound carries
        _check_rewrite(d, v, names, want, {
            f"UPD4-{k}.parquet": _price_bound(origin[p])
            for k, p in enumerate(names)})
    elif verb == "merge_table":
        import datetime as dt

        new = {k: (k, "X", 999.0, dt.date(1998, 1, 1), "9-Z")
               for k in (3, 60, 120, 303, 500, 501)}
        # the source's columns in another order: the insert file shares
        # the rewrites' write job, so it takes the table's column order
        src = spark.createDataFrame(list(new.values()), _RW_SCHEMA).select(
            "o_orderpriority", "o_orderkey", "o_orderdate",
            "o_totalprice", "o_orderstatus")
        v = tl.merge_table(spark, d, src)
        want = {f"MRG4-{k}.parquet": [new.get(r[0], r) for r in origin[p]]
                for k, p in enumerate(names)}
        want["MRG4-ins.parquet"] = [new[500], new[501]]
        _check_rewrite(d, v, names, want,
                       {n: _price_bound(rows) for n, rows in want.items()})
    elif verb == "materialize_deletes":
        tl.delete_keys_mor(spark, d, spark.createDataFrame(
            [(k,) for k in [3, 303, *range(50, 100)]], "o_orderkey long"))
        v = tl.materialize_deletes(spark, d)
        # F2 lies inside the deleted keys' range but holds none of them
        touched = ["F0.parquet", "F1.parquet", "F3.parquet"]
        want = keep(lambda k: k in (3, 303) or 50 <= k <= 99, "MAT5",
                    touched)
        assert list(want) == ["MAT5-0.parquet", "MAT5-2.parquet"]
        _check_rewrite(d, v, ["KD4.parquet", *touched], want, carried)
    else:
        dest = d + "_opt"
        tl.optimize_table(spark, d, dest, n_files=4)
        rows = sorted(r for p in names for r in origin[p])
        width = 349 // 4 + 1  # (max key - min key) div n_files + 1
        want = {}
        for b in range(4):
            part = [r for r in rows if r[0] // width == b]
            if part:
                want[f"OPT4-{b}.parquet"] = part
        assert list(want) == ["OPT4-0.parquet", "OPT4-1.parquet",
                              "OPT4-3.parquet"]
        _check_rewrite(dest, 4, names, want,
                       {n: _price_bound(r) for n, r in want.items()})


def _rewrite_call(spark, d, verb, n):
    """A zero-argument call of ``verb`` that touches every file of the
    n-file table ``d`` (keys 100*i .. 100*i + 19 in file i)."""
    hit = [100 * i + 3 for i in range(n)]
    if verb == "delete_where_cow":
        return lambda: tl.delete_where_cow(spark, d, "o_orderkey % 10 = 3")
    if verb == "update_where_cow":
        return lambda: tl.update_where_cow(
            spark, d, "o_orderkey % 10 = 3", {"o_orderstatus": "'U'"})
    if verb == "merge_table":
        src = spark.createDataFrame(
            _rw_rows([*hit, 10_000], status="X"), _RW_SCHEMA)
        return lambda: tl.merge_table(spark, d, src)
    if verb == "materialize_deletes":
        tl.delete_keys_mor(spark, d, spark.createDataFrame(
            [(k,) for k in hit], "o_orderkey long"))
        return lambda: tl.materialize_deletes(spark, d)
    return lambda: tl.optimize_table(spark, d, d + "_opt", n_files=n)


@pytest.mark.parametrize("verb", [
    "delete_where_cow", "update_where_cow", "merge_table",
    "materialize_deletes", "optimize_table"])
def test_rewrite_verbs_start_as_many_jobs_for_2_files_as_for_6(
        spark, tmp_path, verb):
    """One write job per call: a rewrite of 6 files starts no more
    Spark jobs than a rewrite of 2."""
    jobs = []
    for n in (2, 6):
        d = _rw_table(spark, tmp_path, f"t{n}",
                      [(100 * i, 100 * i + 20) for i in range(n)])
        call = _rewrite_call(spark, d, verb, n)
        v, ids = _jobs_in(spark, f"{verb}-{n}", call)
        jobs.append(len(ids))
    assert jobs[0] == jobs[1], jobs


def test_split_writes_refuse_instead_of_dropping_rows(spark, tmp_path):
    """Under ``spark.sql.files.maxRecordsPerFile`` a write due to land
    as one file splits into several part files; publishing one of them
    would drop the others' rows (and record the one file's count), so
    the single-file writer and the one-job rewrite both refuse, typed,
    leaving no file and no commit behind."""
    d = _rw_table(spark, tmp_path, "t", [(0, 300)])
    dest = str(tmp_path / "one.parquet")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try:
        with pytest.raises(tl.SplitFileError):
            tl._write_one_file(spark.range(1000).withColumnRenamed(
                "id", "o_orderkey"), dest)
        with pytest.raises(tl.SplitFileError):
            tl.delete_where_cow(spark, d, "o_orderkey = 3")
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert os.listdir(os.path.join(d, tl.DATA_SUBDIR)) == ["F0.parquet"]
    assert tl._latest_version(d) == 0


def test_optimize_keeps_the_column_bounds_pruning_uses(spark, tmp_path):
    """OPTIMIZE's adds bound every column a live file bounds, from each
    new file's footer, so a stats-pruned read keeps skipping files
    after the rewrite (before, the adds carried key and date bounds
    only, and every new file stayed a candidate)."""
    d = _rw_table(spark, tmp_path, "t",
                  [(0, 100), (100, 200), (200, 300), (300, 400)])

    def kept(t):
        return [r["path"] for r in
                tl.candidate_files_where(spark, t, "o_totalprice", 120, 180)]

    assert kept(d) == ["F0.parquet"]
    tl.optimize_table(spark, d, d + "_opt", n_files=4)
    assert kept(d + "_opt") == ["OPT4-0.parquet"]
    assert len(tl._snapshot(d + "_opt").files) == 4


def test_optimize_keeps_rows_with_a_null_key(spark, tmp_path):
    """A NULL key falls in no key-range bucket: OPTIMIZE writes its row
    into the first bucket (it dropped the row before)."""
    import datetime as dt

    d = _rw_table(spark, tmp_path, "t", [(0, 10)])
    tl.append_with_stats(spark, d, spark.createDataFrame(
        _rw_rows(range(10, 20)) + [(None, "O", 5.0, dt.date(1995, 1, 2), "1-P")],
        _RW_SCHEMA), "F1.parquet", ["o_totalprice"])
    tl.optimize_table(spark, d, d + "_opt", n_files=2)
    got = tl.snapshot_read(spark, d + "_opt").select(
        "o_orderkey", tl.F.input_file_name().alias("f")).collect()
    assert sorted((r["o_orderkey"] for r in got), key=str) == sorted(
        [*range(20), None], key=str)
    (null_row,) = [r for r in got if r["o_orderkey"] is None]
    assert null_row["f"].endswith("OPT2-0.parquet")


def _chunks(path):
    """``{column path: (compression, encodings)}`` of every column
    chunk in the parquet file at ``path``."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            ch = rg.column(c)
            comp, enc = out.get(ch.path_in_schema, (set(), set()))
            out[ch.path_in_schema] = (comp | {ch.compression},
                                      enc | set(ch.encodings))
    return out


def _codec(path):
    """The one compression codec of every column chunk in ``path``."""
    (codec,) = set.union(*[comp for comp, _ in _chunks(path).values()])
    return codec


def _assert_log_format(path, key):
    """Every column chunk of ``path`` is zstd in v2 pages (no v1-only
    encoding names), and ``key`` is delta-encoded."""
    chunks = _chunks(path)
    for col, (comp, enc) in chunks.items():
        assert comp == {"ZSTD"}, (path, col, comp)
        assert not enc & {"PLAIN_DICTIONARY", "BIT_PACKED"}, (path, col, enc)
    assert "DELTA_BINARY_PACKED" in chunks[key][1], (path, chunks[key])


def _written_files(spark, d, path):
    """The data files a writer path wrote on the table ``d``, and the
    key they are sorted by."""
    import glob

    data = os.path.join(d, tl.DATA_SUBDIR)
    before = set(os.listdir(data))
    if path == "append_with_stats":
        tl.append_with_stats(spark, d, spark.createDataFrame(
            _rw_rows(range(400, 700)), _RW_SCHEMA), "N.parquet",
            ["o_totalprice"])
    elif path == "delete_keys_mor":
        tl.delete_keys_mor(spark, d, spark.createDataFrame(
            [(k,) for k in range(10, 40)], "o_orderkey long"))
    elif path == "merge_table":
        tl.merge_table(spark, d, spark.createDataFrame(
            _rw_rows([*range(5, 25), *range(900, 950)], status="X"),
            _RW_SCHEMA))
    elif path == "materialize_deletes":
        tl.delete_keys_mor(spark, d, spark.createDataFrame(
            [(k,) for k in range(10, 40)], "o_orderkey long"))
        before = set(os.listdir(data))
        tl.materialize_deletes(spark, d)
    elif path == "_write_with_add_actions":
        adds = tl._write_with_add_actions(
            spark.createDataFrame(_rw_rows(range(400, 700)), _RW_SCHEMA),
            d, "W.parquet", n_rows=300, max_rows_per_file=100)
        assert len(adds) == 3
    elif path == "append_partitioned":
        tl.set_partition_spec(d, ["o_orderstatus"])
        tl.append_partitioned(spark, d, spark.createDataFrame(
            _rw_rows(range(400, 700)), _RW_SCHEMA), "P")
    else:
        dest = tl.write_checkpoint(spark, d, tl._latest_version(d))
        return glob.glob(os.path.join(dest, "part-*.parquet")), "n_rows"
    return [os.path.join(data, p)
            for p in sorted(set(os.listdir(data)) - before)], "o_orderkey"


_WRITER_PATHS = ["append_with_stats", "delete_keys_mor", "merge_table",
                 "materialize_deletes", "_write_with_add_actions",
                 "append_partitioned", "write_checkpoint"]


@pytest.mark.parametrize("path", _WRITER_PATHS)
def test_every_writer_path_writes_zstd_v2_pages(spark, tmp_path, path):
    """Each table-log writer writes its files in the log's parquet
    format: zstd column chunks in v2 pages, the sorted key (a
    checkpoint's row counts) delta-encoded."""
    d = _rw_table(spark, tmp_path, "t", [(0, 100), (100, 300)])
    files, key = _written_files(spark, d, path)
    assert files
    for f in files:
        _assert_log_format(f, key)


#: Spark's default parquet format, which table-log files had before
#: :data:`tl._PARQUET_FORMAT`
_SPARK_DEFAULT_FORMAT = {"compression": "snappy", "parquet.writer.version": "v1"}


def test_a_snapshot_mixing_both_parquet_formats_reads_like_its_model(
        spark, tmp_path, monkeypatch):
    """Files written in Spark's default format (snappy, v1 pages)
    stay readable beside zstd/v2 ones: a table whose live files mix
    both reads equal to its model through the MOR and pruned reads, a
    version read, MERGE and materialize, and DuckDB reads the live
    files to the same rows."""
    import datetime as dt

    import duckdb

    def rows_of(df):
        return sorted(tuple(r) for r in df.select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority").collect())

    def snappy_v1(fn):
        with monkeypatch.context() as m:
            m.setattr(tl, "_PARQUET_FORMAT", _SPARK_DEFAULT_FORMAT)
            return fn()

    d = snappy_v1(lambda: _rw_table(
        spark, tmp_path, "t", [(0, 100), (100, 200)]))
    tl.append_with_stats(spark, d, spark.createDataFrame(
        _rw_rows(range(200, 300)), _RW_SCHEMA), "F2.parquet",
        ["o_totalprice"])
    model = {r[0]: r for r in _rw_rows(range(300))}
    v_three_files = tl._latest_version(d)

    def check():
        assert rows_of(tl.snapshot_read_mor(spark, d)) == sorted(
            model.values())
        lo, hi = dt.date(1995, 3, 1), dt.date(1995, 6, 30)
        assert rows_of(tl.stats_pruned_read_where(
            spark, d, "o_orderdate", lo, hi)) == sorted(
            r for r in model.values() if lo <= r[3] <= hi)

    # keys 50..59 (old file F0) and 250..259 (new file F2) deleted MOR
    snappy_v1(lambda: tl.delete_keys_mor(spark, d, spark.createDataFrame(
        [(k,) for k in range(50, 60)], "o_orderkey long")))
    tl.delete_keys_mor(spark, d, spark.createDataFrame(
        [(k,) for k in range(250, 260)], "o_orderkey long"))
    for k in [*range(50, 60), *range(250, 260)]:
        del model[k]
    check()
    tl.materialize_deletes(spark, d)
    check()
    new = _rw_rows([*range(260, 270), 1000, 1001], status="X")
    tl.merge_table(spark, d, spark.createDataFrame(new, _RW_SCHEMA))
    model.update({r[0]: r for r in new})
    check()
    assert rows_of(tl.snapshot_read(spark, d, v_three_files)) == sorted(
        _rw_rows(range(300)))

    live = [os.path.join(d, tl.DATA_SUBDIR, r["path"])
            for r in tl._snapshot(d).files]
    # F1 untouched; F0, F2's rewrite and MERGE's insert file zstd
    assert sorted(_codec(p) for p in live) == ["SNAPPY", *["ZSTD"] * 3]
    got = duckdb.sql(
        "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, "
        "o_orderpriority FROM read_parquet(["
        + ", ".join(f"'{p}'" for p in live) + "])").fetchall()
    assert sorted(got) == sorted(model.values())


def test_time_travel_over_a_staged_table_of_both_formats_matches_duckdb(
        spark, tmp_path, monkeypatch):
    """The staged lifecycle with its first two versions' files in
    Spark's default format (snappy, v1 pages) and the rest zstd/v2:
    ``time_travel_read`` equals its DuckDB twin at every version."""
    import duckdb

    write = tl._write_one_file

    def mixed(df, dest, **kw):
        if os.path.basename(dest)[0] in "AB":
            with monkeypatch.context() as m:
                m.setattr(tl, "_PARQUET_FORMAT", _SPARK_DEFAULT_FORMAT)
                return write(df, dest, **kw)
        return write(df, dest, **kw)

    monkeypatch.setattr(tl, "_table_dir", lambda sf: str(tmp_path / "tt"))
    monkeypatch.setattr(tl, "_write_one_file", mixed)
    got = sorted(tuple(r) for r in
                 tl.time_travel_read(spark, SF_SMOKE).collect())
    data = os.path.join(str(tmp_path / "tt"), tl.DATA_SUBDIR)
    codec = {p[:2]: _codec(os.path.join(data, p)) for p in os.listdir(data)}
    assert codec["A0"] == codec["B1"] == "SNAPPY"
    assert codec["C0"] == codec["E0"] == "ZSTD"
    want = sorted(duckdb.sql(tl.time_travel_read_sql(SF_SMOKE)).fetchall())
    assert got == want and {r[0] for r in got} == {0, 1, 2, 3}


def test_every_parquet_write_goes_through_the_format_helper():
    """Every DataFrame ``.write`` in ``tablelog.py`` sits in
    ``_parquet_writer``, so one constant decides the table log's
    parquet format; the one exception is the streaming IVM gate's
    emission sink (``upsert``), which writes no table-log file."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(tl))
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    writes = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if (isinstance(child, ast.Attribute) and child.attr == "write"
                    and id(child) not in called):
                writes.append(scope)
            visit(child, inner)

    visit(tree, None)
    assert sorted(writes) == ["_parquet_writer", "upsert"]


@pytest.mark.parametrize("n", [2, 4])
def test_tagged_write_runs_one_task_per_output_file(
        spark, tmp_path, monkeypatch, n):
    """``_write_tagged`` writes output ``i`` in task ``i``: no two
    published files come from one write task (a hash repartition on
    the index put 2 outputs both in task 1, and 3 of 4 in task 3)."""
    import re

    d = _rw_table(spark, tmp_path, "t", [(0, 10)])
    parts = []
    one_part = tl._one_part

    def record(scratch):
        part = one_part(scratch)
        parts.append(os.path.basename(part))
        return part

    monkeypatch.setattr(tl, "_one_part", record)
    df = spark.createDataFrame(_rw_rows(range(200)), _RW_SCHEMA).withColumn(
        tl._OUT, (tl.F.col("o_orderkey") % n).cast("int"))
    adds = tl._write_tagged(df, d, [f"T{i}.parquet" for i in range(n)])
    assert [a["n_rows"] for a in adds] == [200 // n] * n
    tasks = [int(re.match(r"part-(\d+)-", p).group(1)) for p in parts]
    assert sorted(tasks) == list(range(n)), parts


def test_partitioned_append_files_are_key_sorted(spark, tmp_path):
    """``append_partitioned`` sorts each file by key: the partition
    columns lead the sort, so the planned write's own sort on them
    keeps the key order (it dropped it before)."""
    import random

    import pyarrow.parquet as pq

    d = _rw_table(spark, tmp_path, "t", [(0, 10)])
    tl.set_partition_spec(d, ["o_orderpriority"])
    keys = list(range(10, 5010))
    random.Random(7).shuffle(keys)
    rows = [(*r[:4], f"{r[0] % 4}-P") for r in _rw_rows(keys)]
    tl.append_partitioned(
        spark, d, spark.createDataFrame(rows, _RW_SCHEMA), "P")
    files = [p for p in os.listdir(os.path.join(d, tl.DATA_SUBDIR))
             if p.startswith("P-")]
    assert len(files) == 4
    for p in files:
        got = pq.read_table(os.path.join(d, tl.DATA_SUBDIR, p)).column(
            "o_orderkey").to_pylist()
        assert len(got) == 1250 and got == sorted(got), p


def test_delete_where_keeps_rows_whose_predicate_is_null(spark, tmp_path):
    """SQL DELETE ... WHERE keeps a row whose predicate is NULL; the
    copy-on-write delete dropped the NULL-status rows with the hits."""
    import datetime as dt

    d = str(tmp_path / "t")
    os.makedirs(os.path.join(d, tl.LOG_SUBDIR))
    os.makedirs(os.path.join(d, tl.DATA_SUBDIR))
    status = ["O"] * 5 + ["F"] * 10 + [None] * 5
    rows = [(k, s, 1.0, dt.date(1995, 1, 1), "1-P")
            for k, s in enumerate(status)]
    tl.append_with_stats(spark, d, spark.createDataFrame(rows, _RW_SCHEMA),
                         "F0.parquet", [])
    tl.delete_where_cow(spark, d, "o_orderstatus = 'O'")
    got = tl.snapshot_read(spark, d).select(
        "o_orderkey", "o_orderstatus").collect()
    assert sorted(r["o_orderkey"] for r in got) == list(range(5, 20))
    assert sum(r["o_orderstatus"] is None for r in got) == 5
