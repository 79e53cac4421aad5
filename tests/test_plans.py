"""Physical-plan shape assertions — the scale contract, executable.

Correctness says WHAT each query returns; these tests pin HOW Spark is
allowed to run it: dimension joins must broadcast, fact filters must
reach the parquet scan (PushedFilters), column pruning must hold
(ReadSchema), global top-k must be TakeOrderedAndProject (never a
single-partition window), narrow per-row analytics must not shuffle at
all, and CUBE must expand in one pass over one scan.  If a refactor
regresses any of these, the query still returns the right rows at
sf0.01 — but would fall over at 100 TB.  This suite is the guard.
"""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_shipping_priority_topk_is_take_ordered(spark):
    from gemmsql.pipeline.relational import shipping_priority

    p = plan_of(shipping_priority(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, "global top-10 must be partial top-k"
    assert "BroadcastHashJoin" in p, "customer dim must broadcast"


def test_nation_revenue_broadcasts_all_dims(spark):
    from gemmsql.pipeline.relational import nation_revenue

    p = plan_of(nation_revenue(spark, SF_SMOKE))
    assert p.count("BroadcastHashJoin") >= 3, "cust/nation/region must broadcast"
    # at tiny SF orders may broadcast as well; what is NEVER acceptable
    # is a cartesian or a shuffle of a dimension table
    assert "CartesianProduct" not in p


def test_pricing_summary_pushdown_and_pruning(spark):
    from gemmsql.pipeline.relational import pricing_summary

    p = plan_of(pricing_summary(spark, SF_SMOKE))
    assert re.search(r"PushedFilters: \[.*l_shipdate.*\]", p), (
        "date filter must reach the parquet scan"
    )
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    assert "l_partkey" not in scan and "l_suppkey" not in scan, (
        "unused columns must be pruned from the scan"
    )
    assert p.count("HashAggregate") >= 2, "aggregate must run partial+final"


def test_narrow_text_ops_do_not_shuffle(spark):
    from gemmsql.pipeline.text import text_stats, token_counts

    for q in (text_stats, token_counts):
        p = plan_of(q(spark, SF_SMOKE))
        assert "Exchange" not in p, f"{q.__name__} must be a narrow map"


def test_explode_agg_text_ops_shuffle_on_doc_keys_only(spark):
    """The explode+agg text queries (word_entropy, corpus_profile, and
    repetition_stats' word leg) must shuffle on doc-keyed aggregates
    only — no joins, no cartesian, bounded shuffle count."""
    from gemmsql.pipeline.text import corpus_profile, word_entropy

    p = plan_of(word_entropy(spark, SF_SMOKE))
    assert "Join" not in p and "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") <= 2, (
        "word_entropy: (doc,word) count + per-doc fold only"
    )
    p = plan_of(corpus_profile(spark, SF_SMOKE))
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") <= 1, (
        "corpus_profile is one grouped aggregate"
    )


def test_price_band_join_is_broadcast_nested_loop(spark):
    from gemmsql.pipeline.relational import price_band_join

    p = plan_of(price_band_join(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in p, (
        "non-equi band join against a tiny dim must broadcast, not shuffle"
    )


def test_brand_sales_cube_single_scan_expand(spark):
    from gemmsql.pipeline.relational import brand_sales_cube

    p = plan_of(brand_sales_cube(spark, SF_SMOKE))
    assert "Expand" in p, "CUBE must use Expand (one pass, all grouping sets)"
    assert p.count("FileScan parquet") == 2, (
        "exactly one scan of lineitem + one of part — CUBE must not re-scan"
    )
    assert "BroadcastHashJoin" in p


def test_window_queries_always_partition(spark):
    """Every Window operator in every registered query must carry a
    partition spec unless it follows a LIMIT (tiny input) — a global
    window is the classic 100 TB cliff."""
    import __spark_entry__ as entry

    for name, fn in entry.queries().items():
        # sampling's Gumbel argmax is a documented global top-k;
        # table_history_audit's cumulative ledger window runs over
        # the per-version AGGREGATE — one row per commit, the same
        # metadata scale the log replay itself is, not a data window
        if name in ("sampling", "table_history_audit"):
            continue
        try:
            p = plan_of(fn(spark, SF_SMOKE))
        except Exception:
            continue
        for line in p.splitlines():
            if "Window " in line and "windowspecdefinition" in line:
                # partitioned windows print as Window [exprs], [part],
                # [order] — or [exprs], [part] when frame-only (e.g. a
                # per-group running sum with no ORDER BY).  A 2-group
                # form whose second bracket is an ORDER spec (ASC/DESC)
                # is an UNpartitioned ordered window — the cliff.
                m = re.search(
                    r"Window \[[^\]]*\], \[([^\]]*)\](, \[[^\]]*\])?", line
                )
                if m and (
                    m.group(2)
                    or (" ASC" not in m.group(1) and " DESC" not in m.group(1))
                ):
                    continue
                assert "TakeOrderedAndProject" in p, (
                    f"{name}: unpartitioned Window without a preceding "
                    f"limit/top-k: {line.strip()[:120]}"
                )


def test_attention_blocked_single_merge_aggregate(spark):
    """The fused merge must aggregate once: no join after the
    applyInPandas partials, no second aggregation pass."""
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.ops import attention_blocked

    vec = embeddings_vectors(spark, SF_SMOKE).select("i", "vec")
    p = plan_of(attention_blocked(vec, vec, broadcast_kv=False))
    # the only joins allowed are the block-replication broadcasts BELOW
    # the kernel; after FlatMapGroupsInPandas the merge must be pure
    # aggregation (no join back, no equi-join of any kind)
    kernel_pos = p.index("FlatMapGroupsInPandas")
    above = p[:kernel_pos]
    assert "HashJoin" not in above and "SortMergeJoin" not in above
    assert p.count("FlatMapGroupsInPandas") == 1


def test_broadcast_forward_folds_are_narrow(spark):
    """Small right side -> "auto" picks the broadcast path, where every
    row's partial is already final: a mapInPandas kernel fed by exactly
    ONE byte-light round-robin spread (gate._spread, r18 — without it
    the single-partition scan serializes the kernel on one core) and
    NO merge — no hash shuffle and no aggregate anywhere in the plan."""
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.ops import (
        attention_blocked,
        row_entropy,
        sample_categorical,
        xentropy,
    )

    vec = embeddings_vectors(spark, SF_SMOKE)
    v = vec.select("i", "vec")
    folds = {
        "xentropy": xentropy(vec, v),
        "row_entropy": row_entropy(v, v),
        "sample_categorical": sample_categorical(v, v),
        "attention_blocked": attention_blocked(v, v),
    }
    for name, df in folds.items():
        p = plan_of(df)
        assert "MapInPandas" in p, name
        assert p.count("Exchange ") == 1, f"{name}: only the spread exchange"
        assert "roundrobin" in p.lower(), f"{name}: the spread must be round-robin"
        assert "hashpartitioning" not in p.lower(), name
        assert "Aggregate" not in p, f"{name}: the broadcast path never merges"


def _merge_aggregates(p: str) -> list[str]:
    """Function lists of the final aggregate nodes that compute
    something."""
    funcs = re.findall(r"Aggregate\(keys=\[[^\]]*\], functions=\[([^\]]*)\]", p)
    return [f for f in funcs if f and not f.startswith("partial_")]


def test_tiled_fold_passes_merge_with_one_aggregate(spark):
    """On the tiled path every fold pass merges its tile partials with
    exactly ONE aggregate, and no merge is a max aggregate joined back
    to the partials for a second sum.  The backwards' statistics pass
    has no aggregate: its partials fold inside the gradient sweep's
    groups."""
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.ops import (
        attention_blocked,
        row_entropy,
        sample_categorical,
        xentropy,
    )
    from gemmsql.ops.backward import attention_bwd, xentropy_bwd

    vec = embeddings_vectors(spark, SF_SMOKE)
    v = vec.select("i", "vec")
    passes = {
        "xentropy": (xentropy(vec, v, block=128, broadcast_trg=False), 1),
        "row_entropy": (row_entropy(v, v, block=128, broadcast_trg=False), 1),
        "sample_categorical": (
            sample_categorical(v, v, block=128, broadcast_classes=False), 1
        ),
        "attention_blocked": (
            attention_blocked(v, v, block=128, broadcast_kv=False), 1
        ),
        "xentropy_bwd": (
            xentropy_bwd(vec, v, block=128, broadcast_trg=False)[0], 1
        ),
        "attention_bwd": (
            attention_bwd(v, v, v, block=128, broadcast_kv=False)[0], 1
        ),
    }
    for name, (df, n) in passes.items():
        aggs = _merge_aggregates(plan_of(df))
        assert len(aggs) == n, f"{name}: merge aggregates {aggs}"
        assert not any("max(" in f for f in aggs), f"{name}: {aggs}"


def test_tiled_folds_take_block_ids_from_footers(spark):
    """On parquet-scan inputs the tiled grid comes from footer min/max of
    ``i``: no plan carries a block-id aggregate (a ``distinct()`` of
    ``_lb``/``_rb``, ``functions=[]``) or a BroadcastNestedLoopJoin, and
    each backward holds exactly its two kernels (grouped or cogrouped),
    because pass 2 reuses pass 1's grid instead of re-planning pass 1 to
    find its block ids."""
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.ops import (
        attention_blocked,
        row_entropy,
        sample_categorical,
        xentropy,
    )
    from gemmsql.ops.backward import attention_bwd, xentropy_bwd

    vec = embeddings_vectors(spark, SF_SMOKE)
    v = vec.select("i", "vec")
    backwards = {
        "xentropy_bwd": xentropy_bwd(vec, v, block=128, broadcast_trg=False),
        "attention_bwd": attention_bwd(v, v, v, block=128, broadcast_kv=False),
    }
    plans = {
        "xentropy": xentropy(vec, v, block=128, broadcast_trg=False),
        "row_entropy": row_entropy(v, v, block=128, broadcast_trg=False),
        "sample_categorical": sample_categorical(
            v, v, block=128, broadcast_classes=False
        ),
        "attention_blocked": attention_blocked(
            v, v, block=128, broadcast_kv=False
        ),
        **{f"{k}[{n}]": out for k, outs in backwards.items()
           for n, out in enumerate(outs)},
    }
    for name, df in plans.items():
        p = plan_of(df)
        assert not re.search(r"Aggregate\(keys=\[_[lr]b#\d+\], functions=\[\]", p), name
        assert "BroadcastNestedLoopJoin" not in p, name
        if "_bwd" in name:
            assert _tile_kernels(p) == 2, name


def _tile_kernels(p: str) -> int:
    """Tile-kernel nodes in plan ``p``: grouped and cogrouped."""
    return p.count("FlatMapGroupsInPandas") + p.count("FlatMapCoGroupsInPandas")


def _final_plan(df) -> str:
    """The AQE final plan of ``df`` after one action over it: a reused
    exchange prints once, so each kernel node counts one run."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def _union(outs):
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    return u


def test_backward_kernels_run_once_per_call(spark):
    """One action over all of a backward's legs runs each kernel sweep
    once: the legs split above the one merge, so they share its
    exchange.  A kernel that sees every right row (one right block, or
    the broadcast path) computes z/r itself: one sweep; several right
    blocks take two (a grouped statistics sweep, then the cogrouped
    gradient sweep).  ``mlp_bwd``'s weight legs share one partials map."""
    import numpy as np

    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.ops.backward import attention_bwd, mlp_bwd, xentropy_bwd
    from gemmsql.stats import embeddings_stats

    vec = embeddings_vectors(spark, SF_SMOKE)
    vec = vec.where(vec["i"] < 96)
    v = vec.select("i", "vec")
    layouts = {  # (block, broadcast) -> tile kernels, MapInPandas
        (48, False): (2, 0),
        (96, False): (1, 0),
        (96, True): (0, 1),
    }
    for (block, bcast), (groups, maps) in layouts.items():
        calls = {
            "xentropy_bwd": xentropy_bwd(vec, v, block=block, broadcast_trg=bcast),
            "attention_bwd": attention_bwd(v, v, v, block=block, broadcast_kv=bcast),
        }
        for name, outs in calls.items():
            p = _final_plan(_union(outs))
            got = (_tile_kernels(p),
                   len(re.findall(r"(?<!FlatMapGroups)MapInPandas", p)))
            assert got == (groups, maps), (name, block, bcast, got)
    d = embeddings_stats(SF_SMOKE)[1]
    _, gp, gq = mlp_bwd(v, v, np.ones((d, 8)), np.ones((8, d)))
    p = _final_plan(gp.unionByName(gq))
    assert len(re.findall(r"(?<!FlatMapGroups)MapInPandas", p)) == 1, p


def test_two_sweep_backwards_share_one_tile_exchange(spark):
    """On a grid with two right blocks both sweeps of a backward group
    one tile frame: the AQE final plan shuffles it once and the second
    sweep reads that shuffle again (``ReusedExchange``).  The statistics
    sweep is one grouped kernel, the gradient sweep one cogrouped
    kernel, and no join brings z/r back to the left rows (attention's
    one join is Q with its cotangent G)."""
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.ops.backward import attention_bwd, xentropy_bwd

    vec = embeddings_vectors(spark, SF_SMOKE)
    vec = vec.where(vec["i"] < 96)
    v = vec.select("i", "vec")
    calls = {
        "xentropy_bwd": (xentropy_bwd(vec, v, block=48, broadcast_trg=False), 0),
        "attention_bwd": (attention_bwd(v, v, v, block=48, broadcast_kv=False), 1),
    }
    joins = r"(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
    for name, (outs, n_joins) in calls.items():
        p = _final_plan(_union(outs))
        assert len(re.findall(r"\+- Exchange hashpartitioning\(_lb#", p)) == 1, (name, p)
        assert len(re.findall(r"ReusedExchange \[_lb#", p)) == 1, (name, p)
        assert p.count("FlatMapGroupsInPandas") == 1, (name, p)
        assert p.count("FlatMapCoGroupsInPandas") == 1, (name, p)
        assert len(re.findall(joins, p)) == n_joins, (name, p)


def test_spread_never_shrinks_a_wide_left_side(spark, tmp_path):
    """gate._spread only fans OUT: a left side that already has 16
    partitions runs the broadcast kernel on them — no extra round-robin
    exchange — and its partition count comes from the plan and file
    sizes without a Spark job."""
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.ops import xentropy
    from gemmsql.stats import frame_partitions

    vec = embeddings_vectors(spark, SF_SMOKE)
    v = vec.select("i", "vec")
    wide = vec.repartition(16)
    out = xentropy(wide, v, broadcast_trg=True)
    p = plan_of(out)
    assert p.count("RoundRobinPartitioning") == 1, p
    assert "RoundRobinPartitioning(16)" in p
    assert out.rdd.getNumPartitions() == 16

    path = str(tmp_path / "wide")
    wide.write.parquet(path)
    scan = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("frame_partitions", "frame_partitions")
    try:
        n = frame_partitions(scan)
        assert not sc.statusTracker().getJobIdsForGroup("frame_partitions")
    finally:
        sc.setJobGroup("", "")
    # Spark packs the 16 small files into a few read partitions; the
    # job-free count must agree with Spark's own
    assert n == scan.rdd.getNumPartitions() >= 2
    assert "RoundRobinPartitioning" not in plan_of(xentropy(scan, v, broadcast_trg=True))
    # the one-partition scan r18 added the spread for still fans out
    assert frame_partitions(vec) == vec.rdd.getNumPartitions() == 1


def test_bucketed_table_join_skips_exchange(spark, tmp_path):
    """Persisted bucketing = co-partitioning on disk: a join of two
    tables bucketed on the same key must plan WITHOUT a shuffle on
    either side (the scale story for repeated fact-fact joins)."""
    from gemmsql.datamodel import load_table
    from gemmsql.sources import write_bucketed_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, SF_SMOKE, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        li = load_table(spark, SF_SMOKE, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        write_bucketed_table(orders, "b_orders", bucket_by="o_orderkey", n_buckets=8)
        write_bucketed_table(li, "b_lineitem", bucket_by="l_orderkey", n_buckets=8)
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        j = a.join(b, a["o_orderkey"] == b["l_orderkey"])
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p, "bucketed join must not shuffle either side"
        assert j.count() == li.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_blocked_ops_never_cartesian(spark):
    """The tile cross-product must be realized as a narrow explode of
    the other side's block ids, never a CartesianProduct of the row
    tables."""
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.ops import attention_blocked, row_entropy, xentropy
    from gemmsql.ops.gate import attention_gate

    vec = embeddings_vectors(spark, SF_SMOKE)
    plans = [
        plan_of(attention_blocked(vec.select("i", "vec"), vec.select("i", "vec"), broadcast_kv=False)),
        plan_of(attention_gate(vec.select("i", "vec"), vec.select("i", "vec"), broadcast_kv=False, block=128)),
        plan_of(xentropy(vec, vec.select("i", "vec"), broadcast_trg=False)),
        plan_of(row_entropy(vec.select("i", "vec"), vec.select("i", "vec"), broadcast_trg=False)),
    ]
    for p in plans:
        assert "CartesianProduct" not in p


def test_gate_grads_are_narrow_plus_one_merge(spark):
    """Gate gradients: one narrow kernel pass (MapInPandas straight off
    the scan, no Exchange below it) and exactly one shuffle for the
    exact integer scatter-add merge."""
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.ops.gate import (
        attention_grads_gate,
        mlp_grads_gate,
        xentropy_grads_gate,
    )

    vec = embeddings_vectors(spark, SF_SMOKE)
    legs = {
        "attention_grads": attention_grads_gate(vec.select("i", "vec")),
        "xentropy_grads": xentropy_grads_gate(vec),
        "mlp_grads": mlp_grads_gate(vec),
    }
    for name, df in legs.items():
        p = plan_of(df)
        kernel_pos = p.index("MapInPandas")
        below = p[kernel_pos:]
        # r18: one round-robin spread below the kernel is the
        # adjudicated price for fanning the NumPy kernel off the
        # single-partition scan; hash shuffles below it stay banned
        assert below.count("Exchange ") <= 1, (
            f"{name}: kernel partials allow only the one spread exchange"
        )
        assert "hashpartitioning" not in below.lower(), (
            f"{name}: no hash shuffle below the kernel"
        )
        assert "CartesianProduct" not in p
        n_shuffles = p.count("Exchange hashpartitioning")
        assert n_shuffles <= 1, (
            f"{name}: scatter-add must be ONE shuffle, saw {n_shuffles}"
        )


def test_lsh_bucket_sizes_bounded(spark):
    """The sign-LSH bucketing must spread rows: max bucket size well
    under the corpus (and planes scale with N, test_pipeline)."""
    import numpy as np
    import pandas as pd
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.pipeline.similarity import N_TABLES, _plane_matrix, n_planes_for

    pdf = embeddings_vectors(spark, SF_SMOKE).select("i", "vec").toPandas()
    x = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
    n_planes = n_planes_for(len(x))
    pm = _plane_matrix(x.shape[1], n_planes)
    bits = (np.floor(x * 1e6 + 0.5) @ pm) > 0  # engine's exact-int projection
    worst = 0
    for t in range(N_TABLES):
        tb = bits[:, t * n_planes : (t + 1) * n_planes]
        bucket = (tb * (1 << np.arange(n_planes))).sum(axis=1)
        worst = max(worst, int(pd.Series(bucket).value_counts().max()))
    assert worst < len(x) / 2, f"one bucket holds {worst}/{len(x)} rows"


def test_dup_lsh_bucket_sizes_bounded(spark):
    """Same bound for embedding_dups_lsh's log-scaled tables (VERDICT
    r2 task #3): no bucket may hold half the corpus."""
    import numpy as np
    import pandas as pd
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.pipeline.similarity import (
        DUP_TABLES,
        _md5_planes,
        dup_planes_for,
    )

    pdf = embeddings_vectors(spark, SF_SMOKE).select("i", "vec").toPandas()
    x = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
    n_planes = dup_planes_for(len(x))
    pm = _md5_planes(x.shape[1], DUP_TABLES * n_planes)
    bits = (np.floor(x * 1e6 + 0.5) @ pm) > 0  # engine's exact-int projection
    worst = 0
    for t in range(DUP_TABLES):
        tb = bits[:, t * n_planes : (t + 1) * n_planes]
        bucket = (tb * (1 << np.arange(n_planes))).sum(axis=1)
        worst = max(worst, int(pd.Series(bucket).value_counts().max()))
    assert worst < len(x) / 2, f"one bucket holds {worst}/{len(x)} rows"


def test_decontaminate_broadcasts_benchmark_shingles(spark):
    """The benchmark membership probe must be a broadcast hash join —
    a sort-merge join here would shuffle the full corpus shingle set
    (the whole point of the operator is to avoid that at 100 TB)."""
    from gemmsql.pipeline.dedup import decontaminate

    p = plan_of(decontaminate(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "corpus shingles must not shuffle for the probe"


def test_pq_codes_is_zero_shuffle(spark):
    """PQ encoding must be a pure narrow map against the broadcast
    codebook — zero Exchange (the 100 TB storage-encode shape)."""
    from gemmsql.pipeline.similarity import pq_codes

    p = plan_of(pq_codes(spark, SF_SMOKE))
    assert "Exchange" not in p, "pq_codes must not shuffle"
    assert "MapInPandas" in p


def test_ivf_topk_no_cartesian_single_cogroup(spark):
    """IVF candidate generation must be the cogroup on cell id — never
    a cartesian; exactly one FlatMapCoGroups kernel."""
    from gemmsql.pipeline.similarity import ivf_topk

    p = plan_of(ivf_topk(spark, SF_SMOKE, k=5))
    assert "CartesianProduct" not in p
    assert p.count("FlatMapCoGroupsInPandas") == 1


def test_fused_text_profile_is_narrow(spark):
    """The merged text_stats registry query computes all seven columns
    in ONE narrow map — no join, no Exchange."""
    from gemmsql.pipeline.text import text_profile

    p = plan_of(text_profile(spark, SF_SMOKE))
    assert "Exchange" not in p and "Join" not in p


def test_fused_repetition_profile_shares_word_counts(spark):
    """The merged repetition_stats query must build the (doc, word)
    count table once: one scan for the word leg, one for the bigram
    leg — not the four scans of the join-of-two-queries shape."""
    from gemmsql.pipeline.text import repetition_profile

    p = plan_of(repetition_profile(spark, SF_SMOKE))
    assert p.count("FileScan parquet") <= 2
    assert "CartesianProduct" not in p


def test_vocab_build_no_global_window(spark):
    """vocab_build: the rank / prefix sum must be range-partitioned —
    NEVER a single-partition global window (|V| is Heaps'-law huge at
    100 TB).  Every Window in the executed plan must carry a
    partition spec, and the per-partition offset/total lookups must
    broadcast (they are P-row tables)."""
    from gemmsql.pipeline.text import vocab_build

    p = plan_of(vocab_build(spark, SF_SMOKE))
    for line in p.splitlines():
        if "Window " in line or line.strip().startswith("Window"):
            assert "pid" in line, (
                "vocab_build window must be partitioned by range-partition "
                f"id, got unpartitioned window: {line.strip()}"
            )
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, (
        "offset/total lookups must broadcast"
    )
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_bigram_pmi_broadcast_lookups_no_pair_shuffle(spark):
    """bigram_pmi: bigrams form in-row (no positional self-join); the
    unigram/total lookups broadcast; no sort-merge join anywhere."""
    from gemmsql.pipeline.text import bigram_pmi

    p = plan_of(bigram_pmi(spark, SF_SMOKE))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # one bigram-count shuffle + the unigram-count subtree instantiated
    # per broadcast use (a-side, b-side, total) — each a bounded
    # word-keyed aggregate, never a pair-keyed or corpus-keyed shuffle
    assert p.count("Exchange hashpartitioning") <= 4, (
        "only word-/pair-count aggregates may shuffle"
    )


def test_clustered_write_tightens_rowgroup_stats(spark, tmp_path):
    """write_clustered must produce files whose cluster-key ranges are
    narrow and disjoint (tight parquet min/max stats -> row-group data
    skipping), and a read-back range predicate must reach the scan as
    a pushed filter."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from gemmsql.datamodel import load_table
    from gemmsql.sources import write_clustered

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    out = str(tmp_path / "clustered")
    write_clustered(orders, out, cluster_by=("o_custkey",), n_files=4)

    files = sorted(Path(out).glob("*.parquet"))
    assert len(files) >= 2, "range split must produce multiple files"
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("o_custkey")
        lo = min(md.row_group(g).column(idx).statistics.min
                 for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max
                 for g in range(md.num_row_groups))
        spans.append((lo, hi))
    spans.sort()
    domain = max(h for _, h in spans) - min(l for l, _ in spans)
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 <= l2, "file key ranges must be disjoint (range split)"
        assert (h1 - l1) <= domain / 2, "per-file span must be narrow"

    back = spark.read.parquet(out).where("o_custkey < 100")
    p = plan_of(back)
    assert re.search(r"PushedFilters: \[.*o_custkey.*\]", p), (
        "range predicate must reach the parquet scan"
    )


def test_kmeans_assign_step_zero_shuffle(spark):
    """The gated Lloyd step is a broadcast narrow map: NO shuffle, NO
    join — the shape that scales to any corpus size."""
    from gemmsql.pipeline.cluster import kmeans_assign_step

    p = plan_of(kmeans_assign_step(spark, SF_SMOKE))
    assert "Exchange hashpartitioning" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert p.count("FileScan parquet") == 1


def test_pca_moments_single_scan_broadcast_join(spark):
    """The moment monoid reads the corpus ONCE: the merged D-row table
    is cached, so BOTH consumers (moment explode + column-sum join)
    must be InMemoryTableScans — every FileScan in the plan string
    sits under a printed InMemoryRelation subtree, never live."""
    from gemmsql.pipeline.cluster import pca_moments

    p = plan_of(pca_moments(spark, SF_SMOKE))
    assert p.count("InMemoryTableScan") >= 2, "both sides must read the cache"
    assert p.count("FileScan parquet") == p.count("InMemoryRelation"), (
        "a live (non-cached) corpus re-scan crept in"
    )
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_ivfpq_topk_no_pair_join(spark):
    """IVF-PQ: candidates come ONLY from the cell cogroup — no
    sort-merge pair join, no cartesian; the final ranking window is
    partitioned per query."""
    from gemmsql.pipeline.similarity import ivfpq_topk

    p = plan_of(ivfpq_topk(spark, SF_SMOKE))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "FlatMapCoGroupsInPandas" in p, "per-cell scoring must cogroup"
    # the ranking window must partition on the query id `i` — a window
    # spec that loses its partition keys becomes one global sort
    win = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
    assert win, "ranking window missing from the ivfpq_topk plan"
    for line in win:
        spec = line.split("windowspecdefinition", 1)[1]
        assert spec.lstrip("(").startswith("i#"), (
            f"window not partitioned by query id: {line.strip()}"
        )
    assert p.count("FileScan parquet") == 1


def test_chain_grads_no_quadratic_join(spark):
    """The composed backward joins the merged cotangent back to the
    input rows on row id (co-partitioned equi-join) — never a pairwise
    join; cartesian is banned."""
    import __spark_entry__ as e

    p = plan_of(e.q_chain_grads(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    # every SortMergeJoin must key on the row-id column `i` (the line
    # itself carries the join keys, e.g. "SortMergeJoin [i#12L], ...")
    smj = [ln for ln in p.splitlines() if "SortMergeJoin" in ln]
    for ln in smj:
        assert "i#" in ln, f"non-row-id SortMergeJoin: {ln.strip()}"


def test_dsir_weights_broadcast_counts_two_scans(spark):
    """DSIR: the bucket-count lookup must BROADCAST (a corpus-side
    shuffle of the feature stream for a 4096-row join is the scale
    bug), and the whole query reads the documents parquet at most
    twice (count pass + scoring pass)."""
    from gemmsql.pipeline.dsir import dsir_weights

    p = plan_of(dsir_weights(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, "bucket counts must broadcast"
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    # live corpus scans (the cached count table repeats its defining
    # scan once per InMemoryRelation occurrence in the plan text)
    live = p.count("FileScan parquet") - p.count("InMemoryRelation")
    assert live <= 1, f"{live} live corpus scans; expected the scoring pass only"


def test_bpe_pair_counts_single_scan_two_aggs(spark):
    """BPE kernel: one corpus scan into the word-frequency agg, in-row
    pair construction (no positional self-join), one pair agg."""
    from gemmsql.pipeline.bpe import bpe_pair_counts

    p = plan_of(bpe_pair_counts(spark, SF_SMOKE))
    assert p.count("FileScan parquet") == 1
    assert "Join" not in p, "pair construction must be in-row"
    assert "ReadSchema: struct<text:string>" in p, "must prune to text col"


def test_dedup_keep_best_partitions_by_cluster(spark):
    """Survivor selection must window PER CLUSTER (components are
    tiny, uniform keys) — never a global sort — and compose the
    cluster/quality inputs by doc_id equi-join, no cartesian."""
    from gemmsql.pipeline.dedup import dedup_keep_best

    p = plan_of(dedup_keep_best(spark, SF_SMOKE))
    assert "windowspecdefinition(cluster_id" in p, (
        "keep-best window must partition by cluster_id"
    )
    assert "CartesianProduct" not in p


def test_payload_queries_scan_only_doc_id(spark):
    """Multimodal discipline: payload synthesis + metadata + decode
    features must read ONLY doc_id from the documents parquet — the
    blob pipeline never drags the text column through the scan, and
    the decode map is narrow (no shuffle)."""
    from gemmsql.pipeline.multimodal import payload_features, payload_meta

    for fn in (payload_meta, payload_features):
        p = plan_of(fn(spark, SF_SMOKE))
        assert "ReadSchema: struct<doc_id:bigint>" in p, fn.__name__
        assert "text" not in p, f"{fn.__name__} must not scan text"
    # round 9: the builders round-robin the doc_id list so the Arrow
    # synth/decode maps parallelize past the single-file documents
    # scan — exactly ONE exchange, and it moves only 8-byte ids, never
    # payloads (the decode map itself stays narrow)
    p = plan_of(payload_features(spark, SF_SMOKE))
    assert p.count("Exchange") == 1, (
        "decode pass must have exactly the doc_id fan-out exchange"
    )
    assert "RoundRobinPartitioning" in p


def test_chain2_grads_broadcast_path_is_narrow(spark):
    """The attention∘mlp composition in broadcast mode: stage 3 is a
    narrow map over the X rows (merged cotangent broadcast, no join),
    so the WHOLE final job carries exactly one hash shuffle (the
    partial-array merge) — and never a cartesian or row-pair join."""
    import __spark_entry__ as e

    p = plan_of(e.q_chain2_grads(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1, (
        "broadcast-path chain2 must shuffle only at the merge"
    )


def test_doc_chunks_zero_shuffle(spark):
    """Chunking is a pure narrow map (split -> sequence -> slice ->
    explode): at 100 TB it must pipeline into the scan."""
    from gemmsql.pipeline.text import doc_chunks

    p = plan_of(doc_chunks(spark, SF_SMOKE))
    assert "Exchange" not in p, "chunking must not shuffle"
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    assert "embedding" not in scan


def test_quality_classifier_zero_shuffle(spark):
    """The hashed linear scorer pools IN ROW (transform + aggregate):
    no explode, no groupBy, no shuffle at any scale."""
    from gemmsql.pipeline.text import quality_classifier

    p = plan_of(quality_classifier(spark, SF_SMOKE))
    assert "Exchange" not in p, "in-row pooling must not shuffle"
    assert "Generate" not in p, "no explode: tokens stay in-row"


def test_mixture_temperature_broadcasts_domain_table(spark):
    """One tiny domain aggregate broadcast back over the corpus — the
    keep-gate pass must be a broadcast join, never a corpus shuffle."""
    from gemmsql.pipeline.text import mixture_temperature

    p = plan_of(mixture_temperature(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    # the only shuffles allowed are for the tiny domain-count aggregate
    # (lang keys), never keyed on doc_id
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "doc_id" not in line, "corpus must not shuffle by doc_id"


def test_corpus_diff_single_copartitioned_join(spark):
    """Snapshot diff is ONE full-outer join on doc_id; both sides hash
    to the same partitioning, no cartesian, no extra pass."""
    from gemmsql.pipeline.corpus import corpus_diff

    p = plan_of(corpus_diff(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert p.count("FullOuter") + p.count("full_outer") >= 1
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    assert "lang" not in scan, "only doc_id+text may be read"


def test_sampling_filtered_single_narrow_pass(spark):
    """Restriction + Gumbel pick resolve in-row against the broadcast
    class table: one mapInPandas fed by the one round-robin spread
    (gate._spread, r18 — the single-partition scan otherwise
    serializes the kernel on one core), no hash shuffle, no window
    exec."""
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.ops.sampling import sampling_filtered

    vec = embeddings_vectors(spark, SF_SMOKE).select("i", "vec")
    p = plan_of(sampling_filtered(vec, vec))
    assert p.count("Exchange ") <= 1, "only the spread exchange"
    assert "hashpartitioning" not in p.lower()
    assert "Window" not in p
    assert "MapInPandas" in p


def test_funnel_counts_copartitioned_and_pushed(spark):
    """Funnel: every step joins on user_id only (co-partitioned
    equi-joins, never a range cross-product), and the 3-type filter
    reaches the parquet scan."""
    from gemmsql.pipeline.events import funnel_counts

    p = plan_of(funnel_counts(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p or p.count(
        "BroadcastNestedLoopJoin"
    ) == 1, "only the 3x1 frac join may be nested-loop"
    for ln in p.splitlines():
        if "SortMergeJoin" in ln:
            assert "user_id#" in ln, f"non-user-id SortMergeJoin: {ln.strip()}"
    assert "PushedFilters" in p and "In(event_type" in p, (
        "funnel-type filter must push to the scan"
    )


def test_cohort_retention_broadcasts_sizes(spark):
    """Cohort triangle: the per-cohort size table (O(timespan) rows)
    must BROADCAST back onto the cells, and no cross-product appears
    anywhere.  (The r5 version also banned windows; the r6 rewrite
    deliberately uses ONE custkey-partitioned window to replace the
    min-agg + join-back that re-scanned orders — the window's
    partitioning is pinned in test_cohort_retention_single_pass.)"""
    from gemmsql.pipeline.events import cohort_retention

    p = plan_of(cohort_retention(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, "cohort sizes must broadcast"
    assert "CartesianProduct" not in p
    for ln in p.splitlines():
        if "SortMergeJoin" in ln:
            assert "o_custkey#" in ln, (
                f"non-custkey SortMergeJoin: {ln.strip()}"
            )


def test_cm_heavy_hitters_bounded_state_and_topk(spark):
    """Count-min: the sketch (4096 rows) and the panel must BROADCAST
    onto their joins, the top-20 must be a TakeOrderedAndProject (a
    per-partition partial top-k, never a global sort), and no
    cross-product appears."""
    from gemmsql.sketches import cm_heavy_hitters

    p = plan_of(cm_heavy_hitters(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, "top-20 must be partial top-k"
    assert p.count("BroadcastHashJoin") >= 2, (
        "sketch and panel must broadcast"
    )
    assert "CartesianProduct" not in p


def test_zordered_write_tightens_stats_on_both_dims(spark, tmp_path):
    """write_zordered: per-file parquet min/max spans must be narrow
    on BOTH z-ordered dimensions (multi-dim data skipping), where a
    single-key clustered write leaves the second dimension spanning
    the full domain."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from gemmsql.datamodel import load_table
    from gemmsql.sources import write_zordered

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    out = str(tmp_path / "zordered")
    write_zordered(
        orders, out, zorder_by=("o_custkey", "o_totalprice"), n_files=16
    )

    files = sorted(Path(out).glob("*.parquet"))
    assert len(files) >= 8, "range split must produce many files"

    def spans(col):
        res, glo, ghi = [], None, None
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            lo = min(md.row_group(g).column(idx).statistics.min
                     for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx).statistics.max
                     for g in range(md.num_row_groups))
            res.append(hi - lo)
            glo = lo if glo is None else min(glo, lo)
            ghi = hi if ghi is None else max(ghi, hi)
        return res, (ghi - glo) or 1

    for col in ("o_custkey", "o_totalprice"):
        sp, domain = spans(col)
        # with 16 z-tiles over 2 dims each file covers ~1/4 of each
        # axis; boundary tiles straddle quadrant jumps of the curve,
        # so assert MOST files are narrow, on BOTH dims at once (a
        # single-key clustered write leaves dim 2 at ~1.0 everywhere)
        narrow = sum(1 for s in sp if s <= 0.6 * domain)
        assert narrow >= len(sp) * 0.7, (
            f"{col}: only {narrow}/{len(sp)} files have narrow spans"
        )
        assert sum(sp) / len(sp) <= 0.55 * domain, (
            f"{col}: mean span {sum(sp) / len(sp):.2f} vs domain {domain}"
        )

    back = spark.read.parquet(out).where("o_totalprice < 1000.0")
    p = plan_of(back)
    assert re.search(r"PushedFilters: \[.*o_totalprice.*\]", p), (
        "predicate on the second z-dim must reach the scan"
    )


def test_funnel_counts_single_scan(spark):
    """The funnel reads the corpus ONCE: chained per-user minima are
    cascaded windows over one user_id partitioning, not per-step
    min-agg joins that each re-scan events (the r5 shape cost 7 scans
    and 10 exchanges at the same sf)."""
    from gemmsql.pipeline.events import funnel_counts

    p = plan_of(funnel_counts(spark, SF_SMOKE))
    assert p.count("FileScan parquet") == 1
    assert "PushedFilters: [In(event_type" in p or "event_type" in p.split(
        "PushedFilters"
    )[1].split("]")[0], "funnel type filter must reach the scan"
    shuffles = p.count("Exchange") - p.count("BroadcastExchange")
    assert shuffles <= 2, f"funnel re-shuffles: {shuffles}"
    for line in p.splitlines():
        if "windowspecdefinition" in line:
            assert "user_id#" in line.split("windowspecdefinition")[1]


def test_cohort_retention_single_pass(spark):
    """Cohort triangle: first-order quarter is a window over ONE
    custkey partitioning (no min-agg + join-back re-scanning orders);
    the per-customer distinct rides the same partitioning; cohort
    sizes come from the cached per_cell frame, not a recompute — both
    consumers must read the cache."""
    from gemmsql.pipeline.events import cohort_retention

    p = plan_of(cohort_retention(spark, SF_SMOKE))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert p.count("InMemoryTableScan") == 2, (
        "per_cell must be cached and read by both the cell and the "
        "cohort-size branch"
    )
    # every parquet scan in the plan must live inside a cache
    # definition (the lineage prints once per consumer): a LIVE orders
    # re-scan outside the cached per_cell build is the 100 TB bug
    assert p.count("FileScan parquet") == p.count("InMemoryRelation")
    for line in p.splitlines():
        if "windowspecdefinition" in line:
            assert "o_custkey#" in line.split("windowspecdefinition")[1]


def test_triangle_count_no_cartesian_one_scan(spark):
    """The triangle pipeline must stay equi-join only (wedges are
    generated in-row from the rank-sorted adjacency, the closure probe
    is a hash join on (v1, v2)) and read lineitem exactly once."""
    from gemmsql.pipeline.graph import triangle_count_gate

    p = plan_of(triangle_count_gate(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the edge set and the oriented DAG are multiply consumed — they
    # must come from the cache, not be re-derived per reference
    assert "InMemoryTableScan" in p, "edge/oriented frames not cached"
    # wedge generation must be the in-row explode, not a self-join of
    # the oriented edge set on its tail
    assert "Generate explode" in p


def test_pagerank_step_single_scan_no_cartesian(spark):
    from gemmsql.pipeline.graph import pagerank_step

    p = plan_of(pagerank_step(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "InMemoryTableScan" in p, "edge frame not cached"


def test_hist_quantiles_partial_agg_before_shuffle(spark):
    """The histogram groupBy must partial-aggregate map-side (the
    mergeable-sketch property: every partition compresses to <= n_bins
    rows before the exchange) and prune the scan to the two columns."""
    from gemmsql.sketches import hist_quantiles

    p = plan_of(hist_quantiles(spark, SF_SMOKE))
    assert "partial_count" in p, "map-side combine missing"
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "o_orderpriority", "o_totalprice"
    }, f"scan not pruned: {m and m.group(1)}"
    assert "Exchange" in p  # exactly the post-partial shuffle exists


def test_concurrent_orders_range_join_is_keyed(spark):
    """The interval self-join must plan as an equi-join on the
    customer key with the overlap predicate as a residual filter —
    never a cartesian/nested-loop pair enumeration."""
    from gemmsql.pipeline.joins import concurrent_orders

    p = plan_of(concurrent_orders(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_time_rollup_single_scan_expand(spark):
    """The three-grain rollup must be ONE events scan with a map-side
    Expand (GROUPING SETS), never three scans + union."""
    from gemmsql.pipeline.events import time_rollup

    p = plan_of(time_rollup(spark, SF_SMOKE))
    assert p.count("FileScan parquet") == 1, "one events scan"
    assert "Expand" in p, "GROUPING SETS must expand map-side"


def test_concurrent_events_keyless_join_is_bucketed(spark):
    """The KEYLESS interval join must plan as an equi-join on the
    synthetic time-bucket key (chunk bucketing), never a cartesian /
    nested-loop pair enumeration — that is the whole point of the
    bucketing rewrite."""
    from gemmsql.pipeline.joins import concurrent_events

    p = plan_of(concurrent_events(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # bucket expansion is the in-row sequence explode
    assert "Generate explode" in p
    # the filtered interval frame is consumed three times (both join
    # sides + the zero-count left join) — it must come from the cache
    assert "InMemoryTableScan" in p, "interval frame not cached"


def test_user_value_gapfill_is_join_free(spark):
    """The r11 gapfill rework: anchors generate their own gap rows, so
    the plan must contain NO join of any kind (the old spine-join
    formulation) and only the two exchanges the shape needs — the
    hourly aggregation and the per-user window sort."""
    from gemmsql.pipeline.events import user_value_gapfill

    p = plan_of(user_value_gapfill(spark, SF_SMOKE))
    for j in ("Join", "CartesianProduct"):
        assert j not in p, p
    assert p.count("Exchange") <= 2, p
    assert "Generate" in p  # the in-row sequence explode survives


def test_quarantine_full_row_rules_stay_one_scan(spark):
    """Extending quarantine to unique/FK kinds must not multiply the
    ROW-rule scan: the orders table is read once for the fused
    row-level explode, once for the unique window, once for the FK
    anti-join probe — never per-rule — and the FK dimension
    broadcasts when asked to."""
    from gemmsql.pipeline.dq import dq_orders_quarantine_full

    p = plan_of(dq_orders_quarantine_full(spark, SF_SMOKE))
    scans = len(re.findall(r"Scan parquet[^\n]*orders", p))
    assert scans == 3, p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p


def test_url_canonical_is_zero_shuffle(spark):
    """URL canonicalization must stay a codegen narrow map — no
    exchange, no join; it runs at scan speed next to ingest."""
    from gemmsql.pipeline.urls import url_canonical

    p = plan_of(url_canonical(spark, SF_SMOKE))
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_curation_pipeline_no_global_sort_or_window(spark):
    """The composed curation chain must keep training_order's scale
    discipline end to end: every Window partitioned (md5-dedup and
    per-lang rank), domains joined as a broadcast, no global Sort
    feeding an unpartitioned window, no cartesian."""
    from gemmsql.pipeline.corpus import curation_pipeline

    p = plan_of(curation_pipeline(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p  # the D-row domain table
    for line in p.splitlines():
        if "Window " in line and "windowspecdefinition" in line:
            m = re.search(r"Window \[[^\]]*\], \[([^\]]*)\]", line)
            assert m and m.group(1).strip(), (
                f"unpartitioned window: {line.strip()[:120]}"
            )


def test_time_travel_read_is_one_data_scan(spark):
    """The table-format promise: asking for EVERY version costs one
    scan of the data directory (per-file pre-aggregates join the
    broadcast liveness frame) — never one scan per version — and the
    liveness side broadcasts."""
    from gemmsql.pipeline.tablelog import time_travel_read

    p = plan_of(time_travel_read(spark, SF_SMOKE))
    data_scans = len(re.findall(r"Scan parquet[^\n]*gemmsql_tablelog"
                                r"[^\n]*data", p))
    assert data_scans == 1, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_sketch_store_rollup_never_touches_raw_events(spark):
    """The incremental-analytics promise: the rollup's inputs are the
    persisted register store ONLY — the raw events table must not
    appear in the plan's file set."""
    from gemmsql.sketches import sketch_store_rollup

    df = sketch_store_rollup(spark, SF_SMOKE)
    files = df.inputFiles()
    assert files, "expected store files"
    assert all("gemmsql_hllstore" in f for f in files), files
    assert not any("events.parquet" in f for f in files), files


def test_image_near_dups_is_band_join_never_all_pairs(spark):
    """The LSH promise: candidates come from a (band_idx, band_val)
    equi-join — the plan must contain hash joins and no cartesian or
    broadcast-nested-loop product of the hash frames."""
    from gemmsql.pipeline.phash import image_near_dups

    p = plan_of(image_near_dups(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_bloom_skipping_is_relational_no_cartesian(spark):
    """The bloom membership test is a (bit) equi-join + counting —
    never a per-(probe, file) product."""
    from gemmsql.pipeline.tablelog import bloom_skipping_audit

    p = plan_of(bloom_skipping_audit(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_merge_witness_reads_only_merged_table(spark):
    """tablelog_merge's aggregate scans the MERGED staged table only
    — never the base fixture or the raw orders parquet."""
    from gemmsql.pipeline.tablelog import tablelog_merge

    files = tablelog_merge(spark, SF_SMOKE).inputFiles()
    assert files, "expected merged-table files"
    assert all("gemmsql_tablemerge" in f for f in files), files


def test_mor_read_with_both_delete_kinds_stays_relational(spark, tmp_path):
    """snapshot_read_mor over a table carrying BOTH delete kinds:
    the positional and equality subtractions are (broadcast)
    anti-joins — never a cartesian or nested-loop product — and the
    plan carries exactly the two anti-joins."""
    import shutil

    from gemmsql.pipeline import tablelog as tl

    base = tl.stage_versioned_table(spark, SF_SMOKE)
    d = str(tmp_path / "mordual")
    shutil.copytree(base, d)
    tl.delete_positions_mor(
        spark, d, "o_orderstatus = 'F' AND o_orderkey % 7 = 0")
    from gemmsql.datamodel import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    mx = orders.agg(tl.F.max("o_orderkey")).collect()[0][0]
    keys = orders.filter(
        (tl.F.expr(f"o_orderkey div {mx // 8 + 1}") == 3)
        & (tl.F.col("o_orderkey") % 3 == 0)
    ).select("o_orderkey")
    tl.delete_keys_mor(spark, d, keys)
    p = plan_of(tl.snapshot_read_mor(spark, d))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert p.count("LeftAnti") == 2, p


def test_ml_gate_exchange_budgets(spark):
    """VERDICT r14 next #9: hard EXCHANGE CEILINGS for the ML-tier
    gate queries.  The shape pins above say where a shuffle may sit;
    this pins HOW MANY total exchanges each physical plan is allowed
    — measured on today's plans — so a Spark upgrade or refactor
    that silently adds a shuffle anywhere in the tree fails here
    even if every shape assertion still passes.  Budgets are the
    CURRENT counts, not aspirations: lowering one is a win worth
    re-pinning, raising one needs the same adjudication a new
    shuffle would."""
    import __spark_entry__ as entrymod

    # r18 re-pin: every broadcast-path kernel now rides ONE byte-light
    # round-robin spread exchange before the NumPy map (gate._spread) —
    # the KB-scale vector scan is a single partition, so the kernels
    # were serializing on one core (the measured reason the whole ML
    # tier showed 8-core == 32-core scaling in PERF_r17).  +1 per
    # kernel entry is the adjudicated price; sampling DROPS 6 -> 2
    # (its tile cogroup is replaced by the broadcast kernel for
    # bounded class tables).
    budgets = {
        "gram": 2,               # one per gram/relu leg's merge agg
        "mlp": 0,                # broadcast weights, narrow kernel
                                 # (gram/mlp kernels are ~ms matmuls:
                                 # measured r18, the spread exchange
                                 # cost more than it parallelized)
        "attention": 2,          # spread per union leg (plain_kv+scaled)
        "attention_batched": 2,  # per-batch merge + final agg
        "xentropy": 1,           # spread
        "entropy": 1,            # spread
        "sampling": 2,           # spread + top-k monoid merge
        "ml_grads": 2,           # spread + the one scatter-add merge
        "chain_grads": 2,
        "chain2_grads": 2,
        "ivfpq_topk": 4,         # spread + assign + per-cell topk + final
    }
    qs = entrymod.queries()
    for name, budget in budgets.items():
        p = plan_of(qs[name](spark, SF_SMOKE))
        n = p.count("Exchange ")
        assert n <= budget, (
            f"{name}: {n} exchanges in the physical plan, budget is "
            f"{budget} — a shuffle crept in"
        )


def test_r15_entrant_exchange_budgets(spark):
    """The same hard ceilings for the round-15 promotion cohort —
    container walks must stay narrow (0-2 exchanges: the split
    planners' spread + regroup), the near-dup LSH is bounded by its
    band join, and the sketch folds by their partial+final aggs."""
    import __spark_entry__ as entrymod

    budgets = {
        "qoi_features": 0,            # one narrow Arrow decode map
        "avro_shard_ingest": 0,
        "ogg_shard_ingest": 0,
        "seqfile_shard_ingest": 0,
        "ogg_split_ingest": 1,        # spread on (shard, split_idx)
        "seqfile_split_ingest": 1,
        "zip_split_ingest": 2,        # spread + straddle regroup
        "column_mapping_read": 2,     # one agg per mapped version
        "sample_quantiles": 2,        # partial+final bottom-k fold
        "segment_value_quantiles": 3, # + broadcast-dim enrich agg
        "image_near_dups": 4,         # band join + hot-band cap
    }
    qs = entrymod.queries()
    for name, budget in budgets.items():
        p = plan_of(qs[name](spark, SF_SMOKE))
        n = p.count("Exchange ")
        assert n <= budget, (
            f"{name}: {n} exchanges in the physical plan, budget is "
            f"{budget} — a shuffle crept in"
        )


def test_r16_entrant_exchange_budgets(spark):
    """VERDICT r15 next #8: every promotion entrant carries an
    exchange budget from its first driver round.  The partition
    reads are candidates-only scans into one final aggregate; the
    mid-stream-rename IVM's final projection folds to one
    update-mode aggregate exchange (measured on the post-drain
    view — the stream side's state exchanges are pinned in
    tests/test_streaming.py)."""
    import __spark_entry__ as entrymod

    budgets = {
        "partition_pruning_read": 1,    # pruned scan -> final agg
        "partition_transform_read": 1,  # one transform-pruned file
        "streaming_mapped_ivm_gate": 1,  # maintained-view final agg
        # type_widening_read's budget (1) is pinned in its own test
    }
    qs = entrymod.queries()
    for name, budget in budgets.items():
        p = plan_of(qs[name](spark, SF_SMOKE))
        n = p.count("Exchange ")
        assert n <= budget, (
            f"{name}: {n} exchanges in the physical plan, budget is "
            f"{budget} — a shuffle crept in"
        )


def test_remaining_exchange_budgets(spark):
    """VERDICT r15 next #8, completed: with these, EVERY live driver
    query carries an exchange-count ceiling (the ML tier, the r15
    and r16 entrant tests, and type_widening_read cover the rest).
    Budgets are the CURRENT measured counts, not aspirations —
    lowering one is a win worth re-pinning, raising one needs the
    same adjudication a new shuffle would.  Streaming gates measure
    their POST-DRAIN final projection (the stream-side state
    exchanges are pinned in tests/test_streaming.py); each gate call
    runs its full lifecycle at the smoke tier."""
    import __spark_entry__ as entrymod

    budgets = {
        "avi_frame_stats": 1,        # split spread on (payload, range)
        "bm25_topk": 9,              # tokenize/df/tf joins + top-k
        "tablelog_merge": 1,         # per-origin rewrite + one insert
        "mor_delete_read": 3,        # anti-join subtraction + final agg
        "bloom_skipping_audit": 18,  # 97 probes x relational bit joins
        "table_history_audit": 3,    # action counts + remove-row lookup
        "stats_skipping_audit": 10,  # per-file skip plan vs true counts
        "tfrecord_ingest": 0,        # one narrow framed-parse map
        "tfrecord_split_ingest": 1,  # spread on (shard, split_idx)
        "streaming_outer_join_gate": 0,
        "streaming_stateful_gate": 1,
        "streaming_dedup_gate": 0,
        "streaming_dq_gate": 0,
        "streaming_quarantine_gate": 0,
        "streaming_ivm_gate": 2,
        "streaming_asof_gate": 0,
        "streaming_tablelog_gate": 1,
        "streaming_cdf_ivm_gate": 1,
        "streaming_txn_sink_gate": 1,
        "streaming_shard_ingest_gate": 0,
        "streaming_mor_ivm_gate": 1,
    }
    qs = entrymod.queries()
    for name, budget in budgets.items():
        p = plan_of(qs[name](spark, SF_SMOKE))
        n = p.count("Exchange ")
        assert n <= budget, (
            f"{name}: {n} exchanges in the physical plan, budget is "
            f"{budget} — a shuffle crept in"
        )


def test_r17_entrant_exchange_budgets(spark):
    """The r17 promotion cohort's ceilings, measured at promotion
    time (the completion pin below fails without them): the DV
    witnesses are staged-lifecycle reads into bounded anti-join +
    final-aggregate plans; the partition-IVM gate measures its
    post-drain maintained-view projection (stream-side state
    exchanges pinned in tests/test_streaming.py)."""
    import __spark_entry__ as entrymod

    budgets = {
        "posdel_compaction_read": 3,  # MOR anti-join + agg + count
        "mor_dml_read": 3,
        "streaming_partition_ivm_gate": 1,  # maintained-view agg
    }
    qs = entrymod.queries()
    for name, budget in budgets.items():
        p = plan_of(qs[name](spark, SF_SMOKE))
        n = p.count("Exchange ")
        assert n <= budget, (
            f"{name}: {n} exchanges in the physical plan, budget is "
            f"{budget} — a shuffle crept in"
        )


def test_every_live_query_has_an_exchange_budget():
    """The completion pin itself: the union of the budget tables in
    this file must cover the whole live registry, so a future
    promotion cannot enter the gate without a ceiling."""
    import ast

    import __spark_entry__ as entrymod

    src = open(__file__).read()
    tree = ast.parse(src)
    covered: set[str] = set()
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id == "budgets"
                and isinstance(node.value, ast.Dict)):
            covered |= {
                k.value for k in node.value.keys
                if isinstance(k, ast.Constant)
                and isinstance(k.value, str)
            }
    covered.add("type_widening_read")  # its own dedicated test
    missing = sorted(set(entrymod.queries()) - covered)
    assert not missing, f"live queries without an exchange budget: {missing}"


def test_type_widening_read_exchange_budget(spark):
    """The third-session birth keeps the same ceiling discipline as
    the promotion cohorts: two mapped explicit-schema scans union
    into ONE final aggregate exchange — the explicit schema replaces
    the mergeSchema footer job, it must never ADD a shuffle."""
    from gemmsql.pipeline.tablelog import type_widening_read

    p = plan_of(type_widening_read(spark, SF_SMOKE))
    n = p.count("Exchange ")
    assert n <= 1, (
        f"type_widening_read: {n} exchanges, budget is 1 — a shuffle "
        "crept in"
    )
