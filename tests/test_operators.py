"""Operator-level semantic tests (beyond running + oracle parity):
LSH recall against brute force, MinHash estimator sanity, SimHash
Hamming guarantee, multimodal plumbing shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_patternsearch_spark.operators import dedup, multimodal, similarity, text
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_minhash_estimates_match_exact_jaccard(spark, docs):
    """For LSH candidate pairs, the signature estimate must be close to the
    true shingle Jaccard (the estimator is unbiased, sd ~ 1/sqrt(64))."""
    cands = dedup.minhash_lsh_candidates(docs, min_est_jaccard=0.3).collect()
    assert cands, "expected some candidate pairs on the word-soup corpus"
    toks = dedup._shingles(dedup._tokens(F.col("text")), 3)
    sh = {r["doc_id"]: set(r["s"]) for r in docs.select("doc_id", toks.alias("s")).collect()}
    for r in cands[:50]:
        a, b = sh[r["doc_a"]], sh[r["doc_b"]]
        true_j = len(a & b) / max(len(a | b), 1)
        assert abs(r["est_jaccard"] - true_j) < 0.35


def test_minhash_persisted_signatures_identical_candidates(spark, docs, tmp_path):
    """persist_signatures=<parquet path> (the fault-tolerant production
    path) must yield exactly the candidates the localCheckpoint path does."""
    base = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in dedup.minhash_lsh_candidates(docs, min_est_jaccard=0.3).collect()
    }
    sig_path = str(tmp_path / "sigs.parquet")
    persisted = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in dedup.minhash_lsh_candidates(
            docs, min_est_jaccard=0.3, persist_signatures=sig_path
        ).collect()
    }
    assert persisted == base
    # and the signature table actually landed as readable parquet, stamped
    # with the hash-family version
    sigs = spark.read.parquet(sig_path)
    assert set(sigs.columns) == {"doc_id", "sig", "hash_family"}
    assert sigs.count() == docs.count()
    # the validating loader accepts the matching family and drops the stamp
    loaded = dedup.load_signatures(spark, sig_path, hash_family="md5")
    assert set(loaded.columns) == {"doc_id", "sig"}


def test_load_signatures_refuses_version_drift(spark, docs, tmp_path):
    """A persisted signature table must never silently mix with signatures
    from a different (or older, value-incompatible) hash-family definition."""
    sig_path = str(tmp_path / "sigs_md5.parquet")
    dedup.minhash_lsh_candidates(
        docs, min_est_jaccard=0.3, persist_signatures=sig_path
    ).collect()
    # wrong family for this table -> refuse
    with pytest.raises(ValueError, match="hash family"):
        dedup.load_signatures(spark, sig_path, hash_family="xxhash64")
    # unstamped table (persisted before versioning, e.g. xxhash64 v1) -> refuse
    legacy = str(tmp_path / "sigs_legacy.parquet")
    spark.read.parquet(sig_path).drop("hash_family").write.parquet(legacy)
    with pytest.raises(ValueError, match="no hash_family stamp"):
        dedup.load_signatures(spark, legacy, hash_family="xxhash64")


def test_simhash_hamming_guarantee(spark, docs):
    """Every returned pair must actually be within the Hamming radius."""
    rows = dedup.simhash_candidates(docs, max_hamming=3).collect()
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    for r in rows:
        x = (sigs[r["doc_a"]] ^ sigs[r["doc_b"]]) & ((1 << 64) - 1)
        assert bin(x).count("1") <= 3
        assert r["hamming"] == bin(x).count("1")


def test_exact_dedup_counts(spark, docs):
    out = dedup.exact_dedup(docs)
    total = out.agg(F.sum("n_copies")).first()[0]
    assert total == docs.count()


def test_lsh_topk_recall(spark, emb):
    """Approximate top-k should recover a healthy fraction of the exact
    top-k on random data (multi-probe, 8 planes)."""
    exact = similarity.brute_force_topk(emb, n_queries=4, k=5).collect()
    approx = similarity.lsh_topk(emb, n_queries=4, k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, f"LSH recall too low: {recall}"


def test_ivf_topk_recall(spark, emb):
    exact = similarity.brute_force_topk(emb, n_queries=4, k=5).collect()
    approx = similarity.ivf_topk(emb, n_queries=4, k=5, n_probe=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, f"IVF recall too low: {recall}"


def test_brute_force_matches_numpy(spark, emb):
    """Exact cosine top-k must agree with a local numpy computation."""
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in rows}
    out = similarity.brute_force_topk(emb, n_queries=2, k=3).collect()
    for q in (0, 1):
        sims = {
            vid: float(np.dot(vecs[q], v) / (np.linalg.norm(vecs[q]) * np.linalg.norm(v)))
            for vid, v in vecs.items()
            if vid != q
        }
        want = sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:3]
        got = sorted(
            [(r["neighbor_id"], r["cosine_sim"]) for r in out if r["query_id"] == q],
            key=lambda kv: (-kv[1], kv[0]),
        )
        assert [w[0] for w in want] == [g[0] for g in got]
        for (wid, ws), (gid, gs) in zip(want, got):
            assert abs(ws - gs) < 1e-5


def test_multimodal_plumbing(spark, docs):
    media = multimodal.attach_binary(docs)
    feats = multimodal.extract_features(media)
    row = feats.first()
    assert len(row["features"]) == multimodal.FEATURE_DIM
    assert abs(sum(row["features"]) - 1.0) < 1e-3  # normalized histogram
    frames = multimodal.frame_sample(media, n_frames=4)
    assert frames.groupBy("doc_id").count().agg(F.min("count")).first()[0] == 4


def test_multimodal_codec_dispatch():
    """decode() routes to a real codec when one exists for the media type
    and falls back to the deterministic fake otherwise (the builtin
    pure-python decoders are always registered, but raise on payloads
    outside their subset -- like these text bytes -- so the fake path
    still serves undecodable content)."""
    import numpy as np

    payload = b"some media bytes"
    fake = multimodal._fake_decode(payload)

    # builtin pure-python decoders are registered even with no codec libs
    assert set(multimodal.codec_decoders()) == {"image", "audio"}
    # ...but text bytes are not a PNG: the builtin decoder raises and
    # decode() falls back to the deterministic fake
    assert np.allclose(multimodal.decode(payload, "image/png"), fake)

    # injected codec wins for its media type, other types still fake
    marker = np.arange(multimodal.FEATURE_DIM, dtype=np.float64)
    decoders = {"image": lambda p: marker}
    assert np.allclose(multimodal.decode(payload, "image/png", decoders), marker)
    assert np.allclose(multimodal.decode(payload, "video/mp4", decoders), fake)

    # a codec that cannot parse the payload falls back instead of failing
    def broken(p):
        raise ValueError("not an image")

    assert np.allclose(
        multimodal.decode(payload, "image/png", {"image": broken}), fake
    )


def _make_png_gray8(width, height, pixels):
    """Spec-valid 8-bit grayscale PNG (filter 0 scanlines, real CRCs)."""
    import struct
    import zlib

    def chunk(typ, data):
        return (len(data).to_bytes(4, "big") + typ + data
                + zlib.crc32(typ + data).to_bytes(4, "big"))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(pixels[r * width:(r + 1) * width])
        for r in range(height)
    )
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _make_wav_pcm16(sample_rate, channels, samples):
    """Spec-valid PCM16 WAV with an actual data chunk."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * channels * 2, channels * 2, 16)
    return (b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little") + fmt
            + b"data" + len(data).to_bytes(4, "little") + data)


def test_builtin_decoders_decode_real_payloads():
    """The REAL decode branch runs in this container: spec-valid PNG and
    WAV payloads decode through the builtin pure-python codecs to the
    closed-form pixel/sample bucket means -- NOT the byte-histogram
    fake."""
    import numpy as np

    # 8x4 grayscale gradient: pixel r*w + c has value (r*w + c) * 7 % 256
    w, h = 8, 4
    pixels = [(i * 7) % 256 for i in range(w * h)]
    png = _make_png_gray8(w, h, pixels)
    got = multimodal.decode(png, "image/png")
    expected = multimodal._bucket_means(
        np.array(pixels, dtype=np.float64) / 255.0
    )
    assert np.allclose(got, expected)
    assert not np.allclose(got, multimodal._fake_decode(png))
    # metadata triage agrees with the pixel decode's own header
    meta = multimodal.probe_metadata(png)
    assert (meta["container"], meta["width"], meta["height"]) == ("png", w, h)

    # stereo PCM16: decode averages channels then takes |sample| means
    samples = [(-1) ** i * (i * 300 % 32768) for i in range(64)]
    wav = _make_wav_pcm16(16000, 2, samples)
    got = multimodal.decode(wav, "audio/wav")
    arr = np.array(samples, dtype=np.float64).reshape(-1, 2).mean(axis=1)
    expected = multimodal._bucket_means(np.abs(arr / 32768.0))
    assert np.allclose(got, expected)
    assert not np.allclose(got, multimodal._fake_decode(wav))
    meta = multimodal.probe_metadata(wav)
    assert (meta["container"], meta["sample_rate"], meta["channels"]) == (
        "wav", 16000, 2)


def test_language_id_shapes(spark, docs):
    out = text.language_id(docs)
    assert out.count() == docs.count()
    preds = {r["predicted_lang"] for r in out.select("predicted_lang").distinct().collect()}
    assert preds <= {"en", "es", "fr", "de", "zh"}


def test_salted_join_matches_plain_join(spark):
    """Salted inner/left joins must return exactly the plain join's rows."""
    from dask_patternsearch_spark.operators.joins import salted_join

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, "o_custkey").groupBy("c_mktsegment").count()
    salted = (
        salted_join(orders, cust, "o_custkey", n_salts=8, seed=1)
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    plain_left = orders.join(cust.filter("c_acctbal > 0"), "o_custkey", "left").count()
    salted_left = salted_join(
        orders, cust.filter("c_acctbal > 0"), "o_custkey", how="left", n_salts=8, seed=1
    ).count()
    assert plain_left == salted_left


# ---------------------------------------------------------------------------
# asof_join / range_join
# ---------------------------------------------------------------------------

def _asof_fixture(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d"), (3, 4, "e")],
        "k long, t long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 3, 30.0), (1, 10, 100.0), (1, 15, 150.0), (2, 9, 90.0)],
        "k long, rt long, val double",
    )
    return left, right


def test_asof_join_backward_semantics(spark):
    from dask_patternsearch_spark.operators.joins import asof_join

    left, right = _asof_fixture(spark)
    out = {
        r["tag"]: (r["rt"], r["val"])
        for r in asof_join(left, right, "k", "t", "rt").collect()
    }
    assert out["a"] == (10, 100.0)      # exact match included
    assert out["b"] == (15, 150.0)      # latest at-or-before 20
    assert out["c"] == (3, 30.0)
    assert out["d"] == (None, None)     # right at 9 > left 7
    assert out["e"] == (None, None)     # no right rows for key 3


def test_asof_join_forward_inner_and_tolerance(spark):
    from dask_patternsearch_spark.operators.joins import asof_join

    left, right = _asof_fixture(spark)
    fwd = {
        r["tag"]: (r["rt"], r["val"])
        for r in asof_join(left, right, "k", "t", "rt", direction="forward").collect()
    }
    assert fwd["a"] == (10, 100.0)
    assert fwd["b"] == (None, None)     # nothing at-or-after 20
    assert fwd["c"] == (10, 100.0)      # nearest following
    assert fwd["d"] == (9, 90.0)

    inner = asof_join(left, right, "k", "t", "rt", how="inner")
    assert {r["tag"] for r in inner.collect()} == {"a", "b", "c"}

    tol = {
        r["tag"]: r["rt"]
        for r in asof_join(left, right, "k", "t", "rt", tolerance=4).collect()
    }
    assert tol["a"] == 10               # gap 0 <= 4
    assert tol["c"] == 3                # gap 2 <= 4
    assert tol["b"] is None             # gap 5 > 4


def test_asof_join_matches_inequality_join(spark):
    """Property check on real data: merge-formulation as-of == the naive
    greatest-right-ts-per-left-row inequality join."""
    from dask_patternsearch_spark.operators.joins import asof_join

    from dask_patternsearch_spark.util import epoch_ms

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev = ev.withColumn("ts_ms", epoch_ms("ts"))
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_ms"
    ).limit(200)
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts_ms").alias("view_ms"),
    )
    got = {
        r["event_id"]: r["view_ms"]
        for r in asof_join(left, right, "user_id", "ts_ms", "view_ms").collect()
    }
    naive = {
        r["event_id"]: r["view_ms"]
        for r in left.join(right, "user_id", "left")
        .filter(F.col("view_ms") <= F.col("ts_ms"))
        .groupBy("event_id")
        .agg(F.max("view_ms").alias("view_ms"))
        .collect()
    }
    for eid, vm in got.items():
        assert naive.get(eid) == vm


def test_asof_join_rejects_column_collision(spark):
    from dask_patternsearch_spark.operators.joins import asof_join

    left, right = _asof_fixture(spark)
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right.withColumnRenamed("rt", "t"), "k", "t", "t")


def test_range_join_matches_naive_theta_join(spark):
    """Bucketed range join == naive non-equi join, including intervals
    spanning many buckets and points on bucket boundaries."""
    from dask_patternsearch_spark.operators.joins import range_join

    points = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 100)], "pid long, x double"
    )
    intervals = spark.createDataFrame(
        [(0, 0.0, 10.0), (1, 5.0, 50.0), (2, 49.0, 51.0), (3, 90.0, 200.0),
         (4, 20.0, 20.0)],
        "iid long, lo double, hi double",
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join(points, intervals, "x", "lo", "hi", bucket_width=7.0).collect()
    }
    want = {
        (r["pid"], r["iid"])
        for r in points.join(
            intervals, (F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi"))
        ).collect()
    }
    assert got == want and got


def test_range_join_extra_equi_keys(spark):
    from dask_patternsearch_spark.operators.joins import range_join

    points = spark.createDataFrame(
        [("u", 3.0, 1), ("u", 8.0, 2), ("v", 3.0, 3)], "g string, x double, pid int"
    )
    intervals = spark.createDataFrame(
        [("u", 0.0, 5.0, 10), ("v", 0.0, 5.0, 20)], "g string, lo double, hi double, iid int"
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join(
            points, intervals, "x", "lo", "hi", bucket_width=4.0, extra_on=["g"]
        ).collect()
    }
    assert got == {(1, 10), (3, 20)}


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------

def test_exact_stratified_sample_counts_subset_deterministic(spark, docs):
    from dask_patternsearch_spark.operators.sampling import exact_stratified_sample

    base = docs.select("doc_id", "lang")
    n = 30
    s1 = exact_stratified_sample(base, "lang", n, ["doc_id"], seed=7)
    s2 = exact_stratified_sample(base, "lang", n, ["doc_id"], seed=7)
    got1 = sorted((r["lang"], r["doc_id"]) for r in s1.collect())
    got2 = sorted((r["lang"], r["doc_id"]) for r in s2.collect())
    assert got1 == got2                      # deterministic
    sizes = {r["lang"]: r["c"] for r in base.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()}
    from collections import Counter
    per = Counter(lang for lang, _ in got1)
    for lang, size in sizes.items():
        assert per[lang] == min(n, size)     # exact per-stratum cap
    all_ids = {r["doc_id"] for r in base.collect()}
    assert {d for _, d in got1} <= all_ids   # subset of input

    s3 = exact_stratified_sample(base, "lang", n, ["doc_id"], seed=8)
    got3 = sorted((r["lang"], r["doc_id"]) for r in s3.collect())
    assert got1 != got3                      # seed actually changes the pick


def test_stratified_sample_fractions_and_determinism(spark, docs):
    from dask_patternsearch_spark.operators.sampling import stratified_sample

    base = docs.select("doc_id", "lang")
    fr = {"en": 0.5, "de": 0.2}
    s = stratified_sample(base, "lang", fr, seed=3)
    assert s.count() == stratified_sample(base, "lang", fr, seed=3).count()
    got = {r["lang"]: r["c"] for r in s.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()}
    sizes = {r["lang"]: r["c"] for r in base.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert set(got) <= set(fr)               # unlisted strata dropped
    for lang, frac in fr.items():
        # binomial 4-sigma envelope
        import math
        mu = sizes[lang] * frac
        sd = math.sqrt(sizes[lang] * frac * (1 - frac))
        assert abs(got.get(lang, 0) - mu) <= 4 * sd + 1


def test_deterministic_split_partitions_input(spark, docs):
    from dask_patternsearch_spark.operators.sampling import deterministic_split

    base = docs.select("doc_id")
    parts = deterministic_split(base, {"train": 0.8, "val": 0.1, "test": 0.1}, ["doc_id"], seed=1)
    ids = {k: {r["doc_id"] for r in v.collect()} for k, v in parts.items()}
    total = {r["doc_id"] for r in base.collect()}
    # disjoint and exhaustive
    assert ids["train"] | ids["val"] | ids["test"] == total
    assert not (ids["train"] & ids["val"]) and not (ids["train"] & ids["test"]) and not (ids["val"] & ids["test"])
    # roughly proportional (4-sigma)
    import math
    n = len(total)
    for k, w in {"train": 0.8, "val": 0.1, "test": 0.1}.items():
        sd = math.sqrt(n * w * (1 - w))
        assert abs(len(ids[k]) - n * w) <= 4 * sd + 1
    # stable under repartitioning
    parts2 = deterministic_split(base.repartition(13), {"train": 0.8, "val": 0.1, "test": 0.1}, ["doc_id"], seed=1)
    assert {r["doc_id"] for r in parts2["train"].collect()} == ids["train"]


def test_connected_components_labels(spark, docs):
    from dask_patternsearch_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 8)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["label"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8}

    # a path graph needs diameter-many propagation rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 30)], "doc_a long, doc_b long"
    )
    comp2 = {r["node"]: r["label"] for r in connected_components(chain).collect()}
    assert set(comp2) == set(range(20, 31)) and set(comp2.values()) == {20}

    # real candidate graph: both endpoints of every pair share a label
    cand = dedup.minhash_lsh_candidates(docs)
    labels = {r["node"]: r["label"] for r in connected_components(cand).collect()}
    for r in cand.collect():
        assert labels[r["doc_a"]] == labels[r["doc_b"]]


def test_multimodal_resize_bounds_and_determinism(spark, docs):
    from dask_patternsearch_spark.operators import multimodal as mm

    media = mm.attach_binary(docs)
    out = mm.resize(media, target_bytes=128)
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r["n_bytes"] <= 128
        assert r["n_bytes"] == len(r["payload"])
        assert r["orig_bytes"] >= r["n_bytes"]
    again = {r["doc_id"]: bytes(r["payload"]) for r in mm.resize(media, target_bytes=128).collect()}
    assert {r["doc_id"]: bytes(r["payload"]) for r in rows} == again


# ---------------------------------------------------------------------------
# bloom_join
# ---------------------------------------------------------------------------

def test_bloom_join_matches_plain_join(spark):
    """No false negatives => bloom-pruned inner/semi joins return exactly
    the plain join's rows, including multi-column keys."""
    from dask_patternsearch_spark.operators.joins import bloom_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    plain = li.join(orders, "o_orderkey").groupBy("o_orderstatus").count()
    bloom = bloom_join(li, orders, "o_orderkey").groupBy("o_orderstatus").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, bloom.collect()))

    semi_plain = li.join(orders, "o_orderkey", "left_semi").count()
    semi_bloom = bloom_join(li, orders, "o_orderkey", how="left_semi").count()
    assert semi_plain == semi_bloom

    a = li.select("o_orderkey", "l_partkey", "l_quantity")
    b = li.filter(F.col("l_returnflag") == "R").select("o_orderkey", "l_partkey")
    assert (
        bloom_join(a, b.distinct(), ["o_orderkey", "l_partkey"], how="left_semi").count()
        == a.join(b, ["o_orderkey", "l_partkey"], "left_semi").count()
    )


def test_bloom_join_actually_prunes(spark):
    """With a tiny build side, the bloom pre-filter must drop (nearly) all
    non-matching probe rows before the join: the pruned probe row count is
    bounded by matches + fpp * probe_rows."""
    import dask_patternsearch_spark.operators.joins as J

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    few = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .orderBy("o_orderkey")
        .limit(5)
        .select("o_orderkey")
    )
    n_probe = li.count()
    n_match = li.join(few, "o_orderkey", "left_semi").count()
    # reproduce the operator's internal pre-filter to measure selectivity
    pruned = J.bloom_join(li, few, "o_orderkey", how="left_semi").count()
    assert pruned == n_match
    # with m=2^23 bits and 5 keys the fpp is ~0, so the bloom-passing
    # superset must stay within 1% of the true matches
    import numpy as np

    from dask_patternsearch_spark.operators import bloom

    bits = 1 << 23
    bitset = np.zeros(bits // 8, dtype=np.uint8)
    b = J._bloom_hashes(few, ["o_orderkey"]).toPandas()
    bloom.set_bits(bitset, b[J._BLOOM_H1].to_numpy(np.int64),
                   b[J._BLOOM_H2].to_numpy(np.int64))
    p = J._bloom_hashes(li, ["o_orderkey"]).select(
        J._BLOOM_H1, J._BLOOM_H2).toPandas()
    ok = bloom.might_contain(p[J._BLOOM_H1].to_numpy(np.int64),
                             p[J._BLOOM_H2].to_numpy(np.int64),
                             [(bits, bitset.tobytes())])
    assert ok.sum() <= n_match + max(0.01 * n_probe, 1)


def test_bloom_join_validates_args(spark):
    from dask_patternsearch_spark.operators.joins import bloom_join

    df = spark.range(1)
    with pytest.raises(ValueError, match="power of two"):
        bloom_join(df, df, "id", num_bits=1000)
    with pytest.raises(ValueError, match="power of two"):
        bloom_join(df, df, "id", num_bits=4)  # a zero-byte bitset
    with pytest.raises(ValueError, match="inner/left_semi"):
        bloom_join(df, df, "id", how="full_outer")


# ---------------------------------------------------------------------------
# connected_components_star (large-star/small-star)
# ---------------------------------------------------------------------------

def test_star_components_match_label_propagation(spark):
    """Star algorithm and min-label propagation must produce identical
    (node, label) maps on random graphs of varying density."""
    rng = np.random.default_rng(7)
    for n_nodes, n_edges in [(40, 20), (60, 90), (30, 300)]:
        a = rng.integers(0, n_nodes, n_edges)
        b = rng.integers(0, n_nodes, n_edges)
        pairs = spark.createDataFrame(
            [(int(x), int(y)) for x, y in zip(a, b)], "doc_a long, doc_b long"
        )
        lp = sorted(map(tuple, dedup.connected_components(pairs).collect()))
        star = sorted(map(tuple, dedup.connected_components_star(pairs).collect()))
        assert lp == star


def test_star_components_chain_graph(spark):
    """A 300-node chain has diameter 299: label propagation would need 299
    rounds, the star algorithm must finish inside its default 20."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "doc_a long, doc_b long"
    )
    out = dedup.connected_components_star(pairs).collect()
    assert len(out) == 300
    assert all(r["label"] == 0 for r in out)


def test_star_components_self_pairs_and_singletons(spark):
    """Self-pairs keep their node in the output as its own singleton
    cluster (matching connected_components' endpoint contract)."""
    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = dict(
        (r["node"], r["label"])
        for r in dedup.connected_components_star(pairs).collect()
    )
    assert out == {5: 5, 1: 1, 2: 1, 3: 1}


def test_quantize_embeddings_roundtrip_error_bound(spark):
    """Dequantized vectors must reconstruct within scale/2 per component,
    and codes must stay in the int8 range [-127, 127]."""
    from dask_patternsearch_spark.operators.similarity import quantize_embeddings

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = quantize_embeddings(emb).join(
        emb.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding"),
        "vec_id",
    )
    rows = q.collect()
    assert rows
    for r in rows:
        codes = np.asarray(r["codes"])
        assert codes.min() >= -127 and codes.max() <= 127
        recon = codes * r["scale"]
        err = np.abs(recon - np.asarray(r["embedding"], dtype=np.float64))
        assert err.max() <= r["scale"] / 2 + 1e-12


def test_ngram_overlap_contamination_detects_planted_leak(spark):
    """A corpus doc sharing a 5-gram with a benchmark doc is flagged with
    the right collision count; disjoint docs are not."""
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # shares two distinct 5-grams with the benchmark doc
            (1, "alpha beta gamma delta epsilon zeta eta"),
            # same words, different order: no 5-gram collision
            (2, "zeta epsilon delta gamma beta alpha"),
            # too short for any 5-gram
            (3, "alpha beta"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_shared_grams"]
           for r in dedup.ngram_overlap_contamination(corpus, bench, n=5).collect()}
    assert out == {1: 2}


def test_semantic_dedup_drops_planted_duplicates(spark):
    """A planted near-identical copy of a vector must be dropped with
    ``dup_of`` pointing at the kept original; distant vectors survive."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((20, 16))
    rows = [(i, base[i].tolist()) for i in range(20)]
    # vec 100 = vec 0 + tiny noise (cosine ~ 1.0)
    rows.append((100, (base[0] + 1e-3 * rng.standard_normal(16)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(emb, threshold=0.95, n_cells=4).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(by_id) == 21
    assert by_id[0]["keep"] is True
    assert by_id[100]["keep"] is False
    assert by_id[100]["dup_of"] == 0
    # random gaussian 16-d vectors are nowhere near cosine 0.95 of each other
    assert all(r["keep"] for vid, r in by_id.items() if vid != 100)


def test_semantic_dedup_deterministic_and_keep_first(spark):
    """Same input -> identical output, and within any duplicate group the
    kept representative is the smallest vec_id."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal((10, 8))
    rows = []
    for i in range(10):
        rows.append((i, base[i].tolist()))
        rows.append((1000 + i, (base[i] * 2.0).tolist()))  # same direction
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, similarity.semantic_dedup(emb, threshold=0.99, n_cells=3).collect()))
    b = sorted(map(tuple, similarity.semantic_dedup(emb, threshold=0.99, n_cells=3).collect()))
    assert a == b
    by_id = {t[0]: t for t in a}
    for i in range(10):
        assert by_id[i][2] is True          # keep (smallest id in its pair)
        assert by_id[1000 + i][2] is False  # scaled copy dropped
        assert by_id[1000 + i][3] == i      # dup_of the original


def test_write_clustered_produces_disjoint_file_ranges(spark, tmp_path):
    """Range-clustered layout: every output file must carry a tight,
    non-overlapping min/max range for the cluster key (what makes footer
    pruning effective), and the data must round-trip."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from dask_patternsearch_spark.sources.io import write_clustered

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = str(tmp_path / "orders_clustered")
    write_clustered(orders, out, ["o_custkey"], n_files=8)

    back = spark.read.parquet(out)
    assert back.count() == orders.count()

    ranges = []
    for f in Path(out).glob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_custkey"
        )
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) > 1
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary key may touch)


# ---------------------------------------------------------------------------
# merge.upsert / merge.scd2
# ---------------------------------------------------------------------------

def test_upsert_semantics(spark):
    """Changes replace same-key rows, insert new keys, and base-only rows
    survive; with order_col the greatest version wins regardless of side."""
    from dask_patternsearch_spark.operators.merge import upsert

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k long, v string, ver long"
    )
    changes = spark.createDataFrame(
        [(2, "B", 20), (3, "C", 20)], "k long, v string, ver long"
    )
    out = {r["k"]: r["v"] for r in upsert(base, changes, ["k"]).collect()}
    assert out == {1: "a", 2: "B", 3: "C"}

    # change with an OLDER version loses when order_col is given
    stale = spark.createDataFrame([(2, "OLD", 5)], "k long, v string, ver long")
    out2 = {r["k"]: r["v"] for r in upsert(base, stale, ["k"], order_col="ver").collect()}
    assert out2 == {1: "a", 2: "b"}

    # equal version: changes side wins the tie
    tie = spark.createDataFrame([(2, "TIE", 10)], "k long, v string, ver long")
    out3 = {r["k"]: r["v"] for r in upsert(base, tie, ["k"], order_col="ver").collect()}
    assert out3[2] == "TIE"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="schema mismatch"):
        upsert(base, changes.drop("ver"), ["k"])


def test_scd2_intervals_tile_per_key(spark):
    """Per key, validity intervals must tile: exactly one current row, and
    each valid_to equals the next valid_from."""
    from dask_patternsearch_spark.operators.merge import scd2

    df = spark.createDataFrame(
        [(1, 100, "x"), (1, 200, "y"), (1, 150, "z"), (2, 50, "w")],
        "k long, ts long, payload string",
    )
    rows = scd2(df, ["k"], "ts", tie_break=["payload"]).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in rs) == 1
        assert rs[-1]["is_current"] and rs[-1]["valid_to"] is None
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"]


# ---------------------------------------------------------------------------
# decontamination (A-vs-B near-dup)
# ---------------------------------------------------------------------------

def test_decontaminate_removes_planted_benchmark_copies(spark):
    """Corpus docs that ARE benchmark docs (planted with new ids) must all
    be removed; unrelated docs must all survive."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    benchmark = docs.filter(F.col("doc_id") % 10 == 0).limit(20)
    planted = benchmark.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    corpus = docs.filter(F.col("doc_id") % 10 == 5).unionByName(planted)

    clean = dedup.decontaminate(corpus, benchmark, min_est_jaccard=0.9)
    clean_ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    planted_ids = {r["doc_id"] for r in planted.select("doc_id").collect()}
    # every planted copy is gone
    assert not (clean_ids & planted_ids)
    # docs sharing no text with the benchmark survive (word-salad corpus:
    # allow LSH to flag a few as near-dups, but the bulk must remain)
    original_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()} - planted_ids
    assert len(clean_ids) >= 0.8 * len(original_ids)


def test_contamination_pairs_estimates_exact_copy_as_one(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    bench = docs.limit(5)
    copies = bench.withColumn("doc_id", F.col("doc_id") + 500_000)
    pairs = dedup.contamination_pairs(copies, bench, min_est_jaccard=0.99).collect()
    assert {(r["doc_id"], r["bench_doc_id"]) for r in pairs} >= {
        (r["doc_id"] + 500_000, r["doc_id"]) for r in bench.collect()
    }
    assert all(r["est_jaccard"] == 1.0 for r in pairs
               if r["doc_id"] - 500_000 == r["bench_doc_id"])


def test_compression_ratio_properties(spark):
    """Repetitive text must compress far better than high-entropy text,
    and every ratio must land in (0, 1.5]."""
    rows = [
        (1, "ab " * 500, "en"),
        (2, "the quick brown fox jumps over the lazy dog " * 20, "en"),
        (3, "kq9 zx2 vb7 mw4 jh8 tc3 rn6 pl1 gd5 fs0 " * 25, "xx"),
        (4, "", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r["comp_ratio"] for r in text.compression_ratios(df).collect()}
    assert all(0.0 < v <= 1.5 for v in out.values())
    assert out[1] < out[3], "repetition must compress better than noise"
    assert out[4] == 1.0


def test_compression_quality_runs_on_corpus(spark, docs):
    rows = text.compression_quality(docs).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["min_ratio"] <= r["mean_ratio"] <= r["max_ratio"] <= 1.5


def test_canonicalize_keeps_best_per_cluster(spark):
    """Planted near-duplicates: one survivor per cluster, and it is the
    highest-quality (longest) member; unique docs all survive."""
    base = "spark shuffle partition broadcast join aggregate window " * 6
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base + "extra tail tokens here", "en", "s", len(base) + 23),
        (3, base + "extra", "en", "s", len(base) + 6),
        (10, "completely different text about pattern search stencils "
             "and simplex reflection contraction steps in optimization", "en", "s", 113),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = dedup.canonicalize_near_dups(df, min_est_jaccard=0.4)
    res = {r["doc_id"]: r for r in out.collect()}
    assert set(res) == {1, 2, 3, 10}
    # 1,2,3 cluster together; doc 2 (longest) is kept
    assert res[1]["cluster"] == res[2]["cluster"] == res[3]["cluster"]
    assert res[2]["kept"] and not res[1]["kept"] and not res[3]["kept"]
    assert res[1]["cluster_size"] == 3
    # the unique doc survives as its own singleton cluster
    assert res[10]["kept"] and res[10]["cluster_size"] == 1


def test_canonicalize_exactly_one_keeper_per_cluster(spark, docs):
    out = dedup.canonicalize_near_dups(docs).cache()
    per_cluster = (
        out.groupBy("cluster")
        .agg(
            F.sum(F.col("kept").cast("int")).alias("n_kept"),
            F.count(F.lit(1)).alias("n"),
            F.max("cluster_size").alias("sz"),
        )
    )
    bad = per_cluster.filter((F.col("n_kept") != 1) | (F.col("n") != F.col("sz"))).count()
    assert bad == 0
    assert out.count() == docs.count()
    out.unpersist()


def test_canonicalize_no_duplicates_all_kept(spark):
    """A corpus with no near-duplicates must keep every doc as its own
    singleton cluster."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 46),
        (2, "one two three four five six seven eight nine ten", "en", "s", 49),
        (3, "spark catalyst tungsten arrow parquet shuffle", "en", "s", 45),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = dedup.canonicalize_near_dups(df).collect()
    assert len(out) == 3
    assert all(r["kept"] and r["cluster_size"] == 1 for r in out)


def test_tfidf_empty_docs(spark):
    from dask_patternsearch_spark.operators import text as T

    df = spark.createDataFrame([], "doc_id long, text string")
    assert T.tfidf_top_terms(df).count() == 0


def test_repetition_scores(spark):
    from dask_patternsearch_spark.operators import text as T

    rows = [
        (1, "spam spam spam spam spam spam"),   # one token repeated
        (2, "a b c d e f g h"),                 # all distinct
        (3, "x y"),                             # too short for trigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.repetition_scores(df).collect()}

    assert out[1]["n_tokens"] == 6
    assert out[1]["top_unigram_frac"] == 1.0
    # 4 trigrams, all "spam spam spam" -> 3 of 4 are repeats
    assert out[1]["dup_trigram_frac"] == 0.75

    assert out[2]["top_unigram_frac"] == 0.125
    assert out[2]["distinct_token_frac"] == 1.0
    assert out[2]["dup_trigram_frac"] == 0.0

    # fewer than 3 tokens: trigram fraction undefined, not zero
    assert out[3]["dup_trigram_frac"] is None
    assert out[3]["n_tokens"] == 2


def test_source_mixture_weights_sum_to_one(spark, docs):
    from dask_patternsearch_spark.operators import text as T

    rows = T.source_mixture_weights(docs).collect()
    assert rows
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-3
    assert all(r["target_docs"] >= 0 for r in rows)


def test_doc_length_histogram_counts_total(spark, docs):
    from dask_patternsearch_spark.operators import text as T

    rows = T.doc_length_histogram(docs).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert all(r["bucket_lo"] % 50 == 0 for r in rows)


def test_pii_redaction_plants(spark):
    d = spark.createDataFrame(
        [
            (1, "contact bob@example.com or 555-123-4567 now"),
            (2, "server at 10.0.0.1 rebooted"),
            (3, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.pii_redaction(d).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"], rows[1]["n_ipv4"]) == (1, 1, 0)
    assert (rows[2]["n_emails"], rows[2]["n_phones"], rows[2]["n_ipv4"]) == (0, 0, 1)
    assert (rows[3]["n_emails"], rows[3]["n_phones"], rows[3]["n_ipv4"]) == (0, 0, 0)
    import hashlib

    expect = "contact [EMAIL] or [PHONE] now"
    assert rows[1]["redacted_fp"] == hashlib.md5(expect.encode()).hexdigest()
    assert rows[1]["redacted_len"] == len(expect)


def test_c4_quality_filter_verdicts(spark):
    good = "the quick brown fox jumps over the lazy dog " * 3
    d = spark.createDataFrame(
        [
            (1, good),
            (2, "too short"),
            (3, good + " {code}"),
            (4, good + " Lorem Ipsum dolor"),
            (5, "aa " * 40),  # 40 words, all identical -> low diversity
        ],
        "doc_id long, text string",
    )
    verdicts = {r["doc_id"]: r["keep"] for r in text.c4_quality_filter(d).collect()}
    assert verdicts == {1: True, 2: False, 3: False, 4: False, 5: False}


def test_duplicate_ngram_fraction_planted_boilerplate(spark):
    boiler = "all rights reserved click here now"
    d = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon " + boiler),
            (2, "one two three four five six " + boiler),
            (3, "totally unique words nowhere else repeated ever"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.duplicate_ngram_fraction(d).collect()}
    # the shared boilerplate contributes >=2 repeated 5-grams to docs 1 and 2
    assert rows[1]["n_dup"] >= 2 and rows[2]["n_dup"] >= 2
    assert rows[3]["n_dup"] == 0 and rows[3]["dup_fraction"] == 0.0
    for r in rows.values():
        assert 0.0 <= r["dup_fraction"] <= 1.0


def test_deterministic_shards_stable_under_repartitioning(spark, docs):
    base = text.deterministic_shards(docs).collect()
    again = text.deterministic_shards(docs.repartition(7)).collect()
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(base) == key(again)
    assert sum(r["n_docs"] for r in base) == docs.count()
    assert {r["shard"] for r in base} <= set(range(16))
    # shard sizes are hash-balanced: no shard holds more than 3x the mean
    mean = docs.count() / 16
    assert max(r["n_docs"] for r in base) < 3 * mean


def test_source_quota_cap_bounds_and_determinism(spark, docs):
    capped = text.source_quota_cap(docs, k=20)
    per_src = {r["source"]: r["n"] for r in
               capped.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_src and all(n <= 20 for n in per_src.values())
    a = sorted(tuple(r) for r in capped.collect())
    b = sorted(tuple(r) for r in text.source_quota_cap(docs.repartition(5), k=20).collect())
    assert a == b


def test_token_budget_mixture_matches_single_window_and_respects_alloc(
        spark, docs):
    """The two-level (bucketed, pruned) spelling equals the naive
    one-window-per-source spelling exactly; no source exceeds its
    integer allocation; a source smaller than its share keeps every
    document; partitioning does not change the result."""
    from pyspark.sql import Window

    got = text.token_budget_mixture(docs, budget_den=5)
    rows = sorted(tuple(r) for r in got.collect())
    assert rows
    # naive single-window reference
    d = docs.select(
        "doc_id", "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"))
    alloc_df = d.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.countDistinct("source").alias("ns"),
    ).select(F.expr("(total div 5) div ns").cast("long").alias("alloc"))
    alloc = alloc_df.collect()[0]["alloc"]
    w = Window.partitionBy("source").orderBy(
        F.col("h").asc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = (d.withColumn("cum_tokens",
                          F.sum("n_tokens").over(w).cast("long"))
             .filter(F.col("cum_tokens") <= F.lit(alloc))
             .select("doc_id", "source", "n_tokens", "cum_tokens"))
    assert rows == sorted(tuple(r) for r in naive.collect())
    # per-source: never exceeds alloc; small sources keep everything
    kept = {}
    for _id, src, _n, cum in rows:
        kept[src] = max(kept.get(src, 0), cum)
    assert all(c <= alloc for c in kept.values())
    totals = {r["source"]: r["t"] for r in d.groupBy("source").agg(
        F.sum("n_tokens").alias("t")).collect()}
    kept_n = {}
    for _id, src, _n, _c in rows:
        kept_n[src] = kept_n.get(src, 0) + 1
    doc_n = {r["source"]: r["n"] for r in d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for src, t in totals.items():
        if t <= alloc:
            assert kept_n.get(src, 0) == doc_n[src]
    # partition-count independence
    again = sorted(tuple(r) for r in text.token_budget_mixture(
        docs.repartition(7), budget_den=5).collect())
    assert again == rows


def test_constraint_checker_catches_planted_violations(spark):
    from dask_patternsearch_spark.operators.quality import check_constraints

    d = spark.createDataFrame(
        [(1, 10, 5.0), (1, None, -2.0), (3, 99, 1.0)],
        "id long, ref long, amount double",
    )
    dim = spark.createDataFrame([(10,), (20,)], "k long")
    out = {r["rule"]: (r["violations"], r["passed"])
           for r in check_constraints(
               d,
               unique=["id"],
               not_null=["ref"],
               checks={"positive": F.col("amount") > 0},
               foreign_keys=[("ref", dim, "k")],
           ).collect()}
    assert out["unique(id)"] == (1, False)       # id=1 twice
    assert out["not_null(ref)"] == (1, False)    # one null ref
    assert out["check(positive)"] == (1, False)  # -2.0
    assert out["fk(ref -> k)"] == (1, False)     # 99 not in dim


def test_new_text_ops_handle_empty_input(spark):
    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert text.pii_redaction(empty).count() == 0
    assert text.c4_quality_filter(empty).count() == 0
    assert text.duplicate_ngram_fraction(empty).count() == 0
    assert text.deterministic_shards(empty).count() == 0
    assert text.source_quota_cap(empty).count() == 0


def test_profile_table_approx_path(spark, docs):
    from dask_patternsearch_spark.operators.profile import profile_table

    exact = {r["column_name"]: r for r in
             profile_table(docs, ["doc_id", "lang"], exact=True).collect()}
    approx = {r["column_name"]: r for r in
              profile_table(docs, ["doc_id", "lang"], exact=False).collect()}
    assert set(exact) == set(approx)
    for c in exact:
        e, a = exact[c], approx[c]
        assert (e["n_rows"], e["n_nonnull"], e["min_value"], e["max_value"]) == (
            a["n_rows"], a["n_nonnull"], a["min_value"], a["max_value"])
        assert abs(a["n_distinct"] - e["n_distinct"]) <= max(0.05 * e["n_distinct"], 2)


def test_write_training_shards_matches_manifest(spark, docs, tmp_path):
    out = str(tmp_path / "shards")
    text.write_training_shards(docs, out)
    back = spark.read.parquet(out)
    got = {r["shard"]: r["n"] for r in
           back.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {r["shard"]: r["n_docs"] for r in text.deterministic_shards(docs).collect()}
    assert got == want
    # within a shard, rows are md5-sorted (the dataloader's read order)
    import pandas as pd  # noqa: F401
    one = back.filter(F.col("shard") == list(want)[0]).toPandas()
    hs = one["h"].tolist()
    assert hs == sorted(hs)


def test_pagerank_uniform_on_cycle_and_sums_to_one(spark):
    from dask_patternsearch_spark.operators.graph import pagerank

    cycle = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    ranks = {r["vertex"]: r["rank"] for r in pagerank(cycle, n_iter=8).collect()}
    assert all(abs(v - 1 / 3) < 1e-6 for v in ranks.values())
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_pagerank_star_orders_hub_first(spark):
    from dask_patternsearch_spark.operators.graph import pagerank

    # spokes all point at the hub; hub dangles (mass redistributed)
    star = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (5, 1)], "src long, dst long"
    )
    ranks = {r["vertex"]: r["rank"] for r in pagerank(star, n_iter=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    hub = ranks.pop(1)
    assert all(hub > v for v in ranks.values())
    spokes = list(ranks.values())
    assert max(spokes) - min(spokes) < 1e-9  # symmetric spokes tie exactly


def test_substring_dup_fraction_planted_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog and keeps running far"
    rows = [
        (1, base),
        (2, base),                       # verbatim copy: every window duplicated
        (3, "completely different text with no overlap whatsoever here okay"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           text.substring_dup_fraction(docs, window=16, stride=4).collect()}
    assert out[1]["dup_fraction"] == 1.0
    assert out[2]["dup_fraction"] == 1.0
    assert out[3]["dup_fraction"] == 0.0
    assert out[3]["n_windows"] > 1


def test_substring_dup_fraction_partial_overlap(spark):
    shared = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH"
    docs = spark.createDataFrame(
        [(1, shared + " unique tail one xxxxxxxxxxxxxxxxxxxxxxxxxxx"),
         (2, shared + " another different ending yyyyyyyyyyyyyyyyyy")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           text.substring_dup_fraction(docs, window=16, stride=4).collect()}
    # the shared prefix duplicates some but not all windows
    for d in (1, 2):
        assert 0 < out[d]["n_dup_windows"] < out[d]["n_windows"]


def test_bm25_search_ranks_matching_docs(spark):
    docs = spark.createDataFrame(
        [(1, "spark spark spark engine"),
         (2, "spark appears once here in a much longer document padded out"),
         (3, "nothing relevant at all"),
         (4, "hash join hash"),],
        "doc_id long, text string",
    )
    out = text.bm25_search(docs, ["spark", "hash"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids                   # no query term, never retrieved
    assert set(ids) == {1, 2, 4}
    scores = {r["doc_id"]: r["bm25"] for r in out}
    assert scores[1] > scores[2]          # higher tf, shorter doc wins
    assert all(r["bm25"] > 0 for r in out)


def test_triangle_participation_closed_form(spark):
    from dask_patternsearch_spark.operators.graph import triangle_participation

    # K4 on {1,2,3,4}: every vertex is in C(3,2)=3 triangles; vertex 5
    # hangs off one edge and closes nothing.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "src long, dst long",
    )
    out = {r["vertex"]: r["triangles"] for r in
           triangle_participation(edges, k=10).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_copurchase_edges_normalized_distinct(spark):
    from dask_patternsearch_spark.operators.graph import copurchase_edges

    li = spark.createDataFrame(
        [(100, 7), (100, 3), (100, 3), (200, 3), (200, 7), (300, 9)],
        "l_orderkey long, l_partkey long",
    )
    edges = copurchase_edges(li).collect()
    assert {(r["src"], r["dst"]) for r in edges} == {(3, 7)}
    assert len(edges) == 1  # distinct across orders, normalized src < dst


def test_kmeans_clusters_planted_and_deterministic(spark):
    rng = np.random.default_rng(11)
    centers = np.array([[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]])
    rows = []
    for i in range(90):
        c = i % 3
        v = centers[c] + rng.normal(0, 0.05, 3)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out1 = similarity.kmeans_clusters(emb, k=3, iters=10).collect()
    sizes = sorted(r["n_vectors"] for r in out1)
    assert sizes == [30, 30, 30]          # planted clusters recovered exactly
    assert all(r["inertia"] < 5.0 for r in out1)
    out2 = similarity.kmeans_clusters(emb, k=3, iters=10).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # deterministic


def test_bfs_distances_chain_and_early_stop(spark):
    from dask_patternsearch_spark.operators.graph import bfs_distances

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    out = {r["vertex"]: r["hops"] for r in
           bfs_distances(chain, source=1, max_hops=5).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}  # disconnected 10-11 unreached
    # undirected: reachable against edge direction too
    back = {r["vertex"]: r["hops"] for r in
            bfs_distances(chain, source=4, max_hops=5).collect()}
    assert back == {4: 0, 3: 1, 2: 2, 1: 3}


def test_bfs_distances_respects_max_hops(spark):
    from dask_patternsearch_spark.operators.graph import bfs_distances

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    out = {r["vertex"]: r["hops"] for r in
           bfs_distances(chain, source=1, max_hops=2).collect()}
    assert out == {1: 0, 2: 1, 3: 2}


def test_weighted_sample_determinism_and_bias(spark):
    from dask_patternsearch_spark.operators.sampling import weighted_sample

    # two weight classes: heavy rows 100x the weight of light rows
    rows = [(i, 1000 if i < 50 else 10) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    s1 = weighted_sample(df, "w", 40, ["doc_id"]).collect()
    s2 = weighted_sample(df, "w", 40, ["doc_id"]).collect()
    assert [tuple(r) for r in s1] == [tuple(r) for r in s2]  # deterministic
    assert len(s1) == 40
    heavy = sum(1 for r in s1 if r["w"] == 1000)
    # 50 heavy rows at 100x weight dominate the draw; binomial noise
    # cannot plausibly push them below half the sample
    assert heavy >= 20
    # a different seed draws a different sample
    s3 = weighted_sample(df, "w", 40, ["doc_id"], seed=1).collect()
    assert {r["doc_id"] for r in s3} != {r["doc_id"] for r in s1}


def test_weighted_sample_huge_weights_stay_weighted(spark):
    """Significant-digit snapping keeps the A-ES key informative at any
    weight magnitude: with weights ~1e8 a fixed 9-decimal round would
    collapse every key to a tie and return doc_ids 0..39 in key order."""
    from dask_patternsearch_spark.operators.sampling import weighted_sample

    rows = [(i, (100_000_000 if i < 250 else 1_000_000_000)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    s = weighted_sample(df, "w", 40, ["doc_id"]).collect()
    ids = [r["doc_id"] for r in s]
    # not degenerate key-order: the draw must not be the first 40 ids
    assert ids != sorted(ids)[:40] or set(ids) != set(range(40))
    # keys are (near-)distinct, not one giant tie
    keys = {r["es_key"] for r in s}
    assert len(keys) >= 35
    # weight bias survives: the 10x-heavier class dominates
    heavy = sum(1 for r in s if r["w"] == 1_000_000_000)
    assert heavy >= 25


def test_chunk_documents_coverage_and_overlap(spark):
    words = " ".join(f"w{i}" for i in range(150))
    docs = spark.createDataFrame([(1, words), (2, "short doc")],
                                 "doc_id long, text string")
    out = text.chunk_documents(docs, chunk_tokens=64, overlap=16).collect()
    one = sorted([r for r in out if r["doc_id"] == 1], key=lambda r: r["chunk_id"])
    # 150 tokens, stride 48: ceil((150-16)/48) = 3 chunks
    assert [r["chunk_id"] for r in one] == [0, 1, 2]
    assert [r["n_tokens"] for r in one] == [64, 64, 150 - 96]
    # short docs still yield exactly one chunk
    two = [r for r in out if r["doc_id"] == 2]
    assert len(two) == 1 and two[0]["n_tokens"] == 2
    # fingerprints of distinct windows differ
    assert len({r["chunk_fp"] for r in one}) == 3


def test_sparse_cosine_pairs_finds_planted_pair(spark):
    rows = [
        (1, "alpha beta gamma delta rareword"),
        (2, "alpha beta gamma delta rareword"),   # identical -> cosine 1
        (3, "epsilon zeta eta theta"),
        (4, "alpha beta unrelated content here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # every term is rare in a 4-doc corpus at frac=1.0
    out = dedup.sparse_cosine_pairs(docs, max_df_frac=1.0, k=5).collect()
    top = out[0]
    assert (top["d1"], top["d2"]) == (1, 2)
    assert top["cosine"] == 1.0
    pairs = {(r["d1"], r["d2"]) for r in out}
    # doc 3 shares no term with anyone -> never a candidate
    assert not any(3 in p for p in pairs)


def test_sparse_cosine_prefix_filter_drops_common_only_pairs(spark):
    rows = [
        (1, "common common rare1"),
        (2, "common common rare2"),
        (3, "common common rare1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 'common' has df=3/3 > 40%; rare1 df=2/3 > 0.4 too -- nothing qualifies
    assert dedup.sparse_cosine_pairs(docs, max_df_frac=0.4, k=5).count() == 0
    # at 70%, rare1 (df 2/3 = 0.67) qualifies: only the (1, 3) pair appears
    out = dedup.sparse_cosine_pairs(docs, max_df_frac=0.7, k=5).collect()
    assert {(r["d1"], r["d2"]) for r in out} == {(1, 3)}


def test_label_propagation_two_cliques(spark):
    from dask_patternsearch_spark.operators.graph import label_propagation

    # two 4-cliques joined by a single bridge edge: LPA should settle on
    # two communities (the bridge cannot outvote a clique)
    def clique(vs):
        return [(a, b) for a in vs for b in vs if a < b]

    edges = spark.createDataFrame(
        clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)],
        "src long, dst long",
    )
    out = label_propagation(edges, n_iter=8).collect()
    assert len(out) == 2
    sizes = sorted(r["size"] for r in out)
    assert sizes == [4, 4]
    reps = sorted(r["representative"] for r in out)
    assert reps == [1, 10]


def test_label_propagation_deterministic(spark):
    from dask_patternsearch_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 3), (4, 6)],
        "src long, dst long",
    )
    a = sorted(map(tuple, label_propagation(edges, n_iter=6).collect()))
    b = sorted(map(tuple, label_propagation(edges, n_iter=6).collect()))
    assert a == b


def test_chunk_documents_reconstructs_token_stream(spark):
    """De-overlapped chunk windows must tile the token stream exactly:
    stride-sized steps cover every token once (plus overlap repeats)."""
    import hashlib

    words = " ".join(f"t{i}" for i in range(137))  # non-multiple of stride
    docs = spark.createDataFrame([(1, words)], "doc_id long, text string")
    out = sorted(text.chunk_documents(docs, chunk_tokens=32, overlap=8).collect(),
                 key=lambda r: r["chunk_id"])
    toks = words.split()
    stride = 32 - 8
    for r in out:
        window = toks[r["chunk_id"] * stride: r["chunk_id"] * stride + 32]
        assert r["n_tokens"] == len(window)
        assert r["chunk_fp"] == hashlib.md5(" ".join(window).encode()).hexdigest()
    # last chunk reaches the final token
    last = out[-1]
    assert last["chunk_id"] * stride + last["n_tokens"] == len(toks)


def test_substring_dup_fraction_bounds_and_invariance(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = {r["doc_id"]: r for r in
            text.substring_dup_fraction(docs).collect()}
    for r in base.values():
        assert 0.0 <= r["dup_fraction"] <= 1.0
        assert r["n_dup_windows"] <= r["n_windows"]
    # partitioning must not change the answer
    rep = {r["doc_id"]: r for r in
           text.substring_dup_fraction(docs.repartition(13)).collect()}
    assert {k: tuple(v) for k, v in base.items()} == {k: tuple(v) for k, v in rep.items()}


def test_weighted_sample_partitioning_invariance(spark):
    from dask_patternsearch_spark.operators.sampling import weighted_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "n_chars")
    a = weighted_sample(docs, "n_chars", 25, ["doc_id"]).collect()
    b = weighted_sample(docs.repartition(17), "n_chars", 25, ["doc_id"]).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_pq_topk_recall_and_determinism(spark, emb):
    out1 = similarity.pq_topk(emb, n_queries=4, k=5, m=16, n_codes=64).collect()
    out2 = similarity.pq_topk(emb, n_queries=4, k=5, m=16, n_codes=64).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    by_q = {}
    for r in out1:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert set(by_q) == {0, 1, 2, 3}
    assert all(len(v) == 5 for v in by_q.values())
    # recall against the EXACT euclidean top-5.  The synthetic embeddings
    # are near-isotropic noise (all pairwise distances concentrate), the
    # worst case for PQ -- so assert recall WELL ABOVE CHANCE (random
    # picks overlap ~1/20 in total), not a production-recall bar.
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=float)
            for r in emb.select("vec_id", "embedding").collect()}
    total = 0
    for q, neigh in by_q.items():
        d = {v: ((vecs[q] - x) ** 2).sum() for v, x in vecs.items() if v != q}
        exact5 = {v for v, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))[:5]}
        total += len(exact5 & set(neigh))
    assert total >= 5, (total, by_q)


def test_pq_encode_shapes_and_code_range(spark, emb):
    codes_df, books = similarity.pq_encode(emb, m=4, k=16)
    assert books.shape == (4, 16, 16)
    rows = codes_df.collect()
    assert all(len(r["codes"]) == 4 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])


def test_ivfpq_topk_contract_and_determinism(spark, emb):
    out1 = similarity.ivfpq_topk(emb, n_queries=4, k=5).collect()
    out2 = similarity.ivfpq_topk(emb, n_queries=4, k=5).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    by_q = {}
    for r in out1:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for q, rows in by_q.items():
        assert len(rows) == 5
        ds = [r["sqdist"] for r in sorted(rows, key=lambda r: r["rnk"])]
        assert ds == sorted(ds)          # ranked by ADC distance
        assert all(r["neighbor_id"] != q for r in rows)
    # IVF+PQ candidates are a subset of PQ-over-everything: its best
    # neighbor's ADC distance cannot beat the full-scan PQ best
    full = similarity.pq_topk(emb, n_queries=4, k=1).collect()
    best_full = {r["query_id"]: r["sqdist"] for r in full}
    best_ivf = {q: min(r["sqdist"] for r in rows) for q, rows in by_q.items()}
    for q in by_q:
        assert best_ivf[q] >= best_full[q] - 1e-9


def test_operators_handle_empty_input(spark):
    """Scan-shaped operators must return empty results, not crash, when a
    filter upstream leaves zero rows (routine in date-sliced pipelines)."""
    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert dedup.exact_dedup(empty).count() == 0
    assert dedup.minhash_lsh_candidates(empty).count() == 0
    assert dedup.sparse_cosine_pairs(empty).count() == 0
    assert text.substring_dup_fraction(empty).count() == 0
    assert text.chunk_documents(empty).count() == 0
    assert text.bm25_search(empty, ["anything"]).count() == 0
    assert text.quality_scores(empty).count() == 0
    from dask_patternsearch_spark.operators.sampling import weighted_sample

    assert weighted_sample(empty, "n_chars", 5, ["doc_id"]).count() == 0


def test_sssp_weighted_chain_and_shortcut(spark):
    from dask_patternsearch_spark.operators.graph import sssp

    # 1-2-3 costs 1+1=2, but the direct 1-3 edge costs 5: shortest is 2.
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0), (3, 4, 0.5)],
        "src long, dst long, weight double",
    )
    out = {r["vertex"]: r["dist"] for r in sssp(edges, source=1).collect()}
    assert out == {1: 0.0, 2: 1.0, 3: 2.0, 4: 2.5}


def test_sssp_rejects_negative_weights(spark):
    import pytest as _pytest

    from dask_patternsearch_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [(1, 2, -1.0)], "src long, dst long, weight double"
    )
    with _pytest.raises(ValueError):
        sssp(edges, source=1)


def test_asof_join_nearest_matches_pandas_semantics(spark):
    from dask_patternsearch_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 24), (1, 30), (2, 5)], "k long, lts long"
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 25, "b"), (1, 100, "c"), (3, 1, "z")],
        "k long, rts long, tag string",
    )
    out = {(r["k"], r["lts"]): r["tag"] for r in
           asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                     direction="nearest").collect()}
    assert out[(1, 10)] == "a"    # 8 at dist 2 beats 25 at dist 15
    assert out[(1, 24)] == "b"    # 25 at dist 1 beats 8 at dist 16
    assert out[(1, 30)] == "b"    # 25 at dist 5 beats 100 at dist 70
    assert out[(2, 5)] is None    # no right rows for key 2
    # tolerance cuts far matches in BOTH directions
    tol = {(r["k"], r["lts"]): r["tag"] for r in
           asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                     direction="nearest", tolerance=3).collect()}
    assert tol[(1, 10)] == "a" and tol[(1, 24)] == "b" and tol[(1, 30)] is None


def test_asof_join_nearest_tie_prefers_backward(spark):
    from dask_patternsearch_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, lts long")
    right = spark.createDataFrame(
        [(1, 8, "early"), (1, 12, "late")], "k long, rts long, tag string"
    )
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    direction="nearest").collect()
    assert out[0]["tag"] == "early"  # dist 2 both ways -> backward wins


def test_kcore_peels_tails_keeps_cliques(spark):
    from dask_patternsearch_spark.operators.graph import kcore

    # triangle {1,2,3} with a tail 3-4-5: the 2-core is exactly the triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    out = {r["vertex"]: r["core_degree"] for r in kcore(edges, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # 3-core of the same graph is empty (triangle degrees are only 2)
    assert kcore(edges, k=3).count() == 0


def test_kcore_cascading_peel(spark):
    from dask_patternsearch_spark.operators.graph import kcore

    # chain 1-2-3-4: removing endpoints cascades until nothing survives k=2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert kcore(edges, k=2).count() == 0


def test_kcore_and_sssp_warn_on_max_iter_exhaustion(spark, caplog):
    """Hitting max_iter before the fixpoint must be surfaced, not
    silent: the result may then include non-core vertices / un-relaxed
    distances / a component split across several labels."""
    import logging

    from dask_patternsearch_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )
    from dask_patternsearch_spark.operators.graph import kcore, sssp

    # a 6-chain needs 3 peel rounds to empty at k=2; max_iter=1 cannot
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src long, dst long"
    )
    with caplog.at_level(logging.WARNING,
                         logger="dask_patternsearch_spark.operators.graph"):
        kcore(chain, k=2, max_iter=1).count()
    assert any("max_iter" in r.message for r in caplog.records)

    caplog.clear()
    # hop diameter 5 from vertex 1; one Bellman-Ford round cannot settle it
    weighted = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(1, 6)], "src long, dst long, weight double"
    )
    with caplog.at_level(logging.WARNING,
                         logger="dask_patternsearch_spark.operators.graph"):
        sssp(weighted, source=1, max_iter=1).count()
    assert any("max_iter" in r.message for r in caplog.records)

    caplog.clear()
    # a 41-node chain has diameter 40; 25 min-label rounds cannot reach
    # its far end, so one component comes back with several labels
    chain41 = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    with caplog.at_level(logging.WARNING,
                         logger="dask_patternsearch_spark.operators.graph"):
        labels = {r["label"] for r in connected_components(chain41).collect()}
    assert labels != {0}
    assert any("max_iter" in r.message and "connected_components" in r.message
               for r in caplog.records)

    caplog.clear()
    # one star round cannot contract a 300-node chain
    chain300 = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "doc_a long, doc_b long"
    )
    with caplog.at_level(logging.WARNING,
                         logger="dask_patternsearch_spark.operators.graph"):
        connected_components_star(chain300, max_iterations=1).count()
    assert any("max_iter" in r.message
               and "connected_components_star" in r.message
               for r in caplog.records)

    caplog.clear()
    # converged runs stay silent
    with caplog.at_level(logging.WARNING,
                         logger="dask_patternsearch_spark.operators.graph"):
        kcore(chain, k=2, max_iter=10).count()
        sssp(weighted, source=1, max_iter=10).count()
        assert connected_components(
            chain, a_col="src", b_col="dst"
        ).select("label").distinct().collect() == [(1,)]
        assert {r["label"] for r in
                connected_components_star(chain300).collect()} == {0}
    assert not caplog.records


def test_checkpoint_probes_ride_the_checkpoint_job(spark):
    """``graph.checkpoint`` observes its probes in the job that
    materializes the frame: two probes cost no job over none, and their
    values equal a separate aggregate over the same rows."""
    from dask_patternsearch_spark.operators.graph import checkpoint

    sc = spark.sparkContext
    df = spark.range(0, 500, numPartitions=4).select(
        (F.col("id") % 37).alias("k"), (F.col("id") * 3).alias("v")
    ).groupBy("k").agg(F.sum("v").alias("s"))
    probes = {"n": F.count(F.lit(1)), "top": F.max("s")}

    def jobs(group, **kw):
        sc.setJobGroup(group, group)
        try:
            frame, got = checkpoint(df, "k", "s", **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), frame, got

    bare_jobs, bare, none = jobs("checkpoint-no-probes")
    probed_jobs, probed, got = jobs("checkpoint-two-probes", **probes)
    assert none == {}
    assert probed_jobs == bare_jobs
    want = df.agg(*(c.alias(k) for k, c in probes.items())).first().asDict()
    assert got == want and want["n"] == 37
    assert sorted(map(tuple, probed.collect())) == sorted(
        map(tuple, bare.collect()))


def test_embedding_neardup_multiprobe_recall(spark):
    """Multi-probe (n_tables=2) must dominate the single table: with the
    same seed the first plane set of the stacked matrix IS the single
    table (row-major RNG draw order), so its pairs are a subset -- and
    the extra table can only add planted pairs, never lose them."""
    import numpy as np
    from dask_patternsearch_spark.operators.dedup import embedding_near_duplicates

    rng = np.random.default_rng(3)
    base = rng.standard_normal((60, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # plant a near-duplicate of each of the first 25 vectors
        if i < 25:
            dup = v + 0.02 * rng.standard_normal(16)
            rows.append((1000 + i, [float(x) for x in dup]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planted = {(i, 1000 + i) for i in range(25)}

    def found(n_tables):
        out = embedding_near_duplicates(
            emb, threshold=0.9, n_planes=8, seed=7, n_tables=n_tables
        ).collect()
        return {(r["vec_a"], r["vec_b"]) for r in out}

    one, two = found(1), found(2)
    assert one <= two  # OR-ing tables never drops a pair
    assert len(two & planted) >= len(one & planted)
    assert len(two & planted) >= 20  # multi-probe recall is high
    # verified pairs really are above threshold (dedup-before-verify kept
    # the exact cosine gate intact)
    assert all(a < b for a, b in two)


def test_snapshot_diff_property_invariants(spark):
    """Randomized invariants of the table diff: classes partition the key
    union; 'added'/'removed' match set differences; 'changed' +
    'unchanged' = key intersection; null-safe compare treats NULL==NULL
    as unchanged and NULL vs value as changed."""
    import random

    from dask_patternsearch_spark.operators.quality import snapshot_diff

    rng = random.Random(5)
    for _ in range(5):
        old_keys = set(rng.sample(range(50), 30))
        new_keys = set(rng.sample(range(50), 30))
        old_rows = [(k, rng.choice([None, "a", "b"]), rng.randint(0, 3))
                    for k in sorted(old_keys)]
        # shared keys keep old values half the time, mutate otherwise
        old_map = {r[0]: r for r in old_rows}
        new_rows = []
        for k in sorted(new_keys):
            if k in old_map and rng.random() < 0.5:
                new_rows.append(old_map[k])
            else:
                new_rows.append((k, rng.choice([None, "a", "c"]), rng.randint(0, 3)))
        old = spark.createDataFrame(old_rows, "k long, s string, v int")
        new = spark.createDataFrame(new_rows, "k long, s string, v int")
        out = {r["k"]: r["change_type"]
               for r in snapshot_diff(old, new, ["k"]).collect()}
        assert set(out) == old_keys | new_keys
        assert {k for k, c in out.items() if c == "added"} == new_keys - old_keys
        assert {k for k, c in out.items() if c == "removed"} == old_keys - new_keys
        new_map = {r[0]: r for r in new_rows}
        for k in old_keys & new_keys:
            same = old_map[k][1:] == new_map[k][1:]
            assert out[k] == ("unchanged" if same else "changed"), (
                k, old_map[k], new_map[k], out[k])


def test_probe_metadata_parses_real_container_headers():
    """Dependency-free byte-level parsing of real container headers --
    incl. a JPEG whose SOF0 sits behind an APP0 segment, and graceful
    None on truncated/corrupt payloads."""
    from dask_patternsearch_spark.operators.multimodal import probe_metadata

    png = (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
           + (640).to_bytes(4, "big") + (480).to_bytes(4, "big") + bytes(9))
    assert probe_metadata(png) == {
        "container": "png", "width": 640, "height": 480,
        "sample_rate": None, "channels": None}

    jpeg = (b"\xff\xd8\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00"
            + bytes(9) + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + (1080).to_bytes(2, "big") + (1920).to_bytes(2, "big") + bytes(10))
    m = probe_metadata(jpeg)
    assert (m["container"], m["width"], m["height"]) == ("jpeg", 1920, 1080)

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + bytes(4)
    m = probe_metadata(gif)
    assert (m["container"], m["width"], m["height"]) == ("gif", 320, 200)

    wav = (b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + b"\x01\x00\x01\x00" + (8000).to_bytes(4, "little")
           + (16000).to_bytes(4, "little") + b"\x02\x00\x10\x00"
           + b"data" + (0).to_bytes(4, "little"))
    m = probe_metadata(wav)
    assert (m["container"], m["sample_rate"], m["channels"]) == ("wav", 8000, 1)

    assert probe_metadata(b"")["container"] is None
    assert probe_metadata(b"\x89PNG\r\n\x1a")["container"] is None  # truncated
    assert probe_metadata(b"plain text payload here")["container"] is None


def test_new_operators_handle_empty_inputs(spark):
    """Empty-side robustness: the round-3 operators must degrade to
    empty/one-sided results, not crash."""
    from dask_patternsearch_spark.operators.quality import snapshot_diff
    from dask_patternsearch_spark.operators.sampling import weighted_sample

    empty = spark.createDataFrame([], "k long, v string")
    some = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    out = {r["k"]: r["change_type"]
           for r in snapshot_diff(empty, some, ["k"]).collect()}
    assert out == {1: "added", 2: "added"}
    out = {r["k"]: r["change_type"]
           for r in snapshot_diff(some, empty, ["k"]).collect()}
    assert out == {1: "removed", 2: "removed"}
    assert snapshot_diff(empty, empty, ["k"]).count() == 0

    wdf = spark.createDataFrame([], "doc_id long, w long")
    assert weighted_sample(wdf, "w", 5, ["doc_id"]).count() == 0

    from dask_patternsearch_spark.operators.similarity import kmeans_clusters
    import pytest as _pytest
    edf = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="seed"):
        kmeans_clusters(edf, k=2)


def test_jaccard_prefix_pairs_lossless_vs_brute_force(spark, docs):
    """The prefix-filtered exact similarity join must return EXACTLY the
    brute-force all-pairs result at the threshold -- the losslessness
    theorem the operator's candidate pruning rests on (any common total
    order; rarest-first is only an optimization)."""
    sub = docs.filter(F.col("doc_id") < 120)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_prefix_pairs(sub, n=3, threshold=0.5).collect()
    }
    toks = dedup._shingles(dedup._tokens(F.col("text")), 3)
    sh = {
        r["doc_id"]: set(r["s"])
        for r in sub.select("doc_id", toks.alias("s")).collect()
    }
    ids = sorted(sh)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            u = sh[a] | sh[b]
            if not u:
                continue
            j = len(sh[a] & sh[b]) / len(u)
            if j >= 0.5:
                expected[(a, b)] = j
    assert set(got) == set(expected)
    for k, j in expected.items():
        assert abs(got[k] - j) < 1e-12


def test_contamination_pairs_exact_lossless_vs_brute_force(spark, docs):
    """Cross-set prefix filtering must equal brute-force corpus x
    benchmark exact Jaccard at the threshold (shared ordering over the
    union -- the prefix theorem's requirement)."""
    sub = docs.filter(F.col("doc_id") < 150)
    bench = sub.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    corp = sub.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    got = {
        (r["doc_id"], r["benchmark_doc_id"]): r["jaccard"]
        for r in dedup.contamination_pairs_exact(
            corp, bench, n=3, threshold=0.5
        ).collect()
    }
    toks = dedup._shingles(dedup._tokens(F.col("text")), 3)
    sh = {
        r["doc_id"]: set(r["s"])
        for r in sub.select("doc_id", toks.alias("s")).collect()
    }
    expected = {}
    for c in sh:
        if c % 5 == 0:
            continue
        for b in sh:
            if b % 5 != 0:
                continue
            u = sh[c] | sh[b]
            if u and len(sh[c] & sh[b]) / len(u) >= 0.5:
                expected[(c, b)] = len(sh[c] & sh[b]) / len(u)
    assert set(got) == set(expected)
    for k, j in expected.items():
        assert abs(got[k] - j) < 1e-12


def test_md5_derivations_match_duckdb(spark):
    """The cross-engine contract every hash-family oracle rests on: the
    engine's md5-prefix longs, universal-hash permutation constants and
    +-1 sign planes must equal DuckDB's spelling of the same derivation
    exactly (these ARE the values the oracles replay)."""
    import duckdb

    words = ["alpha", "beta gamma", "42", "", "Ünïcode tëst"]
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    for n_hex in (7, 15):
        got = [r["h"] for r in
               wdf.select(dedup._md5_long(F.col("w"), n_hex).alias("h")).collect()]
        want = [duckdb.sql(
            f"SELECT CAST(('0x' || substr(md5(?), 1, {n_hex})) AS BIGINT)",
            params=[w]).fetchone()[0] for w in words]
        assert got == want

    av, bv = dedup._perm_constants(8, 42)
    for j in range(8):
        a = duckdb.sql(
            "SELECT CAST(('0x' || substr(md5('a:42:' || ?), 1, 7)) AS BIGINT) + 1",
            params=[j]).fetchone()[0]
        b = duckdb.sql(
            "SELECT CAST(('0x' || substr(md5('b:42:' || ?), 1, 7)) AS BIGINT)",
            params=[j]).fetchone()[0]
        assert (av[j], bv[j]) == (a, b)

    planes = dedup.md5_sign_planes(3, 5, 37)
    for r in range(3):
        for d in range(5):
            want = duckdb.sql(
                "SELECT CASE WHEN CAST(('0x' || substr(md5('37:' || ? || ':' || ?), 1, 1))"
                " AS INT) >= 8 THEN 1.0 ELSE -1.0 END",
                params=[r, d]).fetchone()[0]
            assert planes[r, d] == want


def test_kmv_sketch_merge_associative_and_accurate(spark):
    """The KMV sketch state must MERGE: sketching two disjoint halves and
    unioning must equal sketching the whole (the property that makes a
    sketch usable per-shard at 100 TB), and the estimate must be within
    the ~1/sqrt(k) textbook error of the exact distinct count."""
    from dask_patternsearch_spark.operators import sketches
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    whole = sketches.kmv_sketch(ev, "user_id", ["event_type"])
    lo = sketches.kmv_sketch(ev.filter("user_id % 2 = 0"), "user_id", ["event_type"])
    hi = sketches.kmv_sketch(ev.filter("user_id % 2 = 1"), "user_id", ["event_type"])
    merged = sketches.kmv_merge(lo, hi, ["event_type"])
    a = {r["event_type"]: r["hashes"] for r in whole.collect()}
    b = {r["event_type"]: r["hashes"] for r in merged.collect()}
    assert a == b

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["est_distinct"]
        for r in sketches.kmv_estimate(whole).collect()
    }
    for t, n in exact.items():
        assert abs(est[t] - n) <= max(0.25 * n, 3), (t, est[t], n)


def test_hll_registers_merge_and_estimate(spark):
    """Explicit HLL registers merge by per-register max (two halves ->
    whole), and the corrected estimate is within ~3*1.04/sqrt(m) of the
    exact distinct count."""
    from dask_patternsearch_spark.operators import sketches
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    whole = sketches.hll_registers(ev, "user_id", ["event_type"])
    lo = sketches.hll_registers(ev.filter("user_id % 2 = 0"), "user_id", ["event_type"])
    hi = sketches.hll_registers(ev.filter("user_id % 2 = 1"), "user_id", ["event_type"])
    merged = (
        lo.unionByName(hi)
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    a = sorted(map(tuple, whole.collect()))
    bm = sorted(map(tuple, merged.collect()))
    assert a == bm

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["est_distinct"]
        for r in sketches.hll_estimate(whole, ["event_type"]).collect()
    }
    for t, n in exact.items():
        assert abs(est[t] - n) <= max(0.1 * n, 3), (t, est[t], n)


def test_minhash_hash_family_knob(spark, docs):
    """Both hash families must run JVM-side and produce near-dup
    candidates of equivalent quality (the xxhash64 family is the
    fast-path knob; md5 is the oracle-portable default)."""
    fast = dedup.minhash_lsh_candidates(docs, hash_family="xxhash64")
    slow = dedup.minhash_lsh_candidates(docs, hash_family="md5")
    nf, ns = fast.count(), slow.count()
    assert nf > 0 and ns > 0
    with pytest.raises(ValueError):
        dedup.minhash_signatures(docs, hash_family="fnv")


# ---------------------------------------------------------------------------
# BPE vocabulary induction


def test_bpe_greedy_fold_semantics(spark):
    """The merge fold is greedy left-to-right non-overlapping: 'aaa' under
    (a,a) becomes [aa, a] (not [a, aa], not [aa, aa]); token-boundary
    matching never merges across a symbol whose *suffix* equals lhs."""
    from dask_patternsearch_spark.operators import bpe

    vocab = spark.createDataFrame(
        [("aaa", 1), ("banana", 1), ("ab", 1)], ["w", "freq"]
    )
    v0 = bpe._initial_vocab(vocab)
    out = {
        r["w"]: r["seqstr"]
        for r in bpe._apply_merge(
            v0.withColumn("syms", F.split("seqstr", " ")), "a", "a"
        ).collect()
    }
    assert out["aaa"] == "aa a"
    assert out["banana"] == "b a n a n a"
    assert out["ab"] == "a b"
    # second round: merging (n, a) must not touch the 'aa' token
    v1 = spark.createDataFrame(
        [("banana", "b a n a n a", 1), ("aaa", "aa a", 1)],
        ["w", "seqstr", "freq"],
    )
    out2 = {
        r["w"]: r["seqstr"]
        for r in bpe._apply_merge(
            v1.withColumn("syms", F.split("seqstr", " ")), "n", "a"
        ).collect()
    }
    assert out2["banana"] == "b a na na"
    assert out2["aaa"] == "aa a"


def test_bpe_learn_merges_determinism_and_conservation(spark, docs):
    """Merge rules are deterministic (rerun-identical), merged = lhs||rhs,
    counts positive; the segmentation conserves total weighted characters
    (merging never creates or destroys text)."""
    from dask_patternsearch_spark.operators import bpe

    m1, v1 = bpe.learn_bpe_merges(docs, n_merges=4)
    m2, _ = bpe.learn_bpe_merges(docs, n_merges=4)
    r1, r2 = m1.collect(), m2.collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    assert len(r1) == 4
    for row in r1:
        assert row["merged"] == row["lhs"] + row["rhs"]
        assert row["pair_count"] > 0
    chars_in = (
        bpe.word_frequencies(docs)
        .select(F.sum(F.length("w") * F.col("freq")).alias("n"))
        .collect()[0]["n"]
    )
    chars_out = (
        v1.select(
            (F.length(F.translate("seqstr", " ", "")) * F.col("freq")).alias("c")
        )
        .agg(F.sum("c").alias("n"))
        .collect()[0]["n"]
    )
    assert chars_in == chars_out


def test_positional_filter_keeps_exact_boundary_pair(spark):
    """A pair whose Jaccard is EXACTLY the threshold must survive the
    PPJoin positional filter (round 7): the t/(1+t) overlap bound is
    computed in floating point, and the sharpest failure mode is a
    boundary pair pruned by a 1-ulp overestimate.  A-B share 8 of 10
    distinct trigrams -> J = 0.8 exactly at threshold 0.8."""
    a_words = [f"t{i}" for i in range(11)]          # 9 trigrams
    b_words = a_words[:-1] + ["zzz"]                # last trigram differs
    docs = spark.createDataFrame(
        [(0, " ".join(a_words)), (1, " ".join(b_words))], ["doc_id", "text"]
    )
    rows = dedup.jaccard_prefix_pairs(docs, n=3, threshold=0.8).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(0, 1)]
    assert abs(rows[0]["jaccard"] - 0.8) < 1e-12
    got = dedup.contamination_pairs_exact(
        docs.filter(F.col("doc_id") == 0),
        docs.filter(F.col("doc_id") == 1),
        n=3, threshold=0.8,
    ).collect()
    assert [(r["doc_id"], r["benchmark_doc_id"]) for r in got] == [(0, 1)]


def test_prefix_join_lossless_across_thresholds(spark):
    """Losslessness of prefix + length + positional filtering at MANY
    thresholds (the three pruning bounds interact differently as t moves:
    prefix length shrinks with t while the overlap bound t/(1+t) grows).
    Synthetic word-soup corpus with planted near-dups; brute force is the
    referee at every threshold."""
    import random

    rng = random.Random(7)
    vocab = [f"v{i}" for i in range(40)]
    texts = [" ".join(rng.choices(vocab, k=rng.randint(8, 40))) for _ in range(50)]
    for tgt in range(40, 50):  # planted near-dups of earlier docs
        toks = texts[tgt - 40].split()
        for j in rng.sample(range(len(toks)), max(1, len(toks) // 12)):
            toks[j] = rng.choice(vocab)
        texts[tgt] = " ".join(toks)
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    toks_expr = dedup._shingles(dedup._tokens(F.col("text")), 3)
    sh = {r["doc_id"]: set(r["s"])
          for r in docs.select("doc_id", toks_expr.alias("s")).collect()}
    ids = sorted(sh)
    for t in [0.5, 0.6, 0.75, 0.8, 0.9]:
        got = {(r["doc_a"], r["doc_b"])
               for r in dedup.jaccard_prefix_pairs(docs, n=3, threshold=t).collect()}
        expected = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                u = sh[a] | sh[b]
                if u and len(sh[a] & sh[b]) / len(u) >= t:
                    expected.add((a, b))
        assert got == expected, f"threshold {t}: {got ^ expected}"


def test_load_signatures_rejects_empty_table(spark, tmp_path):
    """A zero-row signature table must raise a clear 'empty' error, not the
    misleading version-mismatch message ('built with hash family []')."""
    p = str(tmp_path / "sigs_empty.parquet")
    spark.createDataFrame(
        [], "doc_id string, sig array<bigint>, hash_family string"
    ).write.parquet(p)
    with pytest.raises(ValueError, match="empty"):
        dedup.load_signatures(spark, p, hash_family="md5")


def test_incremental_minhash_matches_full_compute(spark, docs, tmp_path):
    """incremental_minhash_candidates(new, persisted_old) must equal the
    full-corpus batch compute restricted to pairs involving a new doc --
    the losslessness contract of the ingestion path -- and must append
    the new signatures so the NEXT increment sees them."""
    old = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    sig_path = str(tmp_path / "sigs.parquet")
    dedup.minhash_signatures(old).withColumn(
        "hash_family", F.lit(dedup.HASH_FAMILY_VERSIONS["md5"])
    ).write.parquet(sig_path)

    got = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in dedup.incremental_minhash_candidates(new, sig_path).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    full = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in dedup.minhash_lsh_candidates(docs).collect()
        if r["doc_a"] in new_ids or r["doc_b"] in new_ids
    }
    assert got == full
    assert got, "fixture corpus should surface at least one new-doc pair"
    # append=True: the table now holds signatures for the WHOLE corpus
    sigs = dedup.load_signatures(spark, sig_path, hash_family="md5")
    assert sigs.count() == docs.count()


def test_append_ivf_layout_equals_union_build(spark, emb, tmp_path):
    """Appending a batch into an existing IVF layout (assignment against
    the PERSISTED centroids) must be indistinguishable from building the
    layout from the union corpus with the same centroids: identical
    per-cell membership and identical probe results."""
    old = emb.filter(F.col("vec_id") % 5 != 4)
    new = emb.filter(F.col("vec_id") % 5 == 4)
    cents = np.stack([
        np.asarray(r["embedding"], dtype=float)
        for r in sorted(old.filter(F.col("vec_id") < 20)
                        .select("vec_id", "embedding").collect(),
                        key=lambda r: r["vec_id"])
    ])
    p_inc = str(tmp_path / "ivf_inc")
    p_full = str(tmp_path / "ivf_full")
    similarity.write_ivf_layout(old, p_inc, centroids=cents)
    n = similarity.append_ivf_layout(new, p_inc)
    assert n == new.count()
    similarity.write_ivf_layout(emb, p_full, centroids=cents)
    member = lambda p: {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(p).select("vec_id", "cell").collect()
    }
    assert member(p_inc) == member(p_full)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    res = lambda p: {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in similarity.ivf_layout_topk(spark, p, queries, k=5,
                                            n_probe=3).collect()
    }
    r_inc = res(p_inc)
    assert r_inc == res(p_full)
    # appended vectors are actually reachable through the probe
    new_ids = {r["vec_id"] for r in new.select("vec_id").collect()}
    assert any(nb in new_ids for _, nb, _s in r_inc)


def test_incremental_minhash_append_is_retry_idempotent(spark, docs, tmp_path):
    """Re-running a crashed ingest call must not duplicate signature rows
    in the durable table (a duplicated row would multiply every later
    join), and the candidate output must be unchanged."""
    old = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    sig_path = str(tmp_path / "sigs.parquet")
    dedup.minhash_signatures(old).withColumn(
        "hash_family", F.lit(dedup.HASH_FAMILY_VERSIONS["md5"])
    ).write.parquet(sig_path)
    first = {(r["doc_a"], r["doc_b"], r["est_jaccard"]) for r in
             dedup.incremental_minhash_candidates(new, sig_path).collect()}
    # retry: the batch is already persisted; the table must not grow
    n_after_first = dedup.load_signatures(spark, sig_path).count()
    retried = {(r["doc_a"], r["doc_b"], r["est_jaccard"]) for r in
               dedup.incremental_minhash_candidates(new, sig_path).collect()}
    assert retried == first
    assert dedup.load_signatures(spark, sig_path).count() == n_after_first
    assert n_after_first == docs.count()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_incremental_minhash_parity_random_corpora(spark, tmp_path, seed):
    """Randomized corpora sweep of the losslessness contract: for any
    corpus/batch split, the incremental path equals the full batch
    compute restricted to pairs involving a batch doc.  Small vocab +
    planted copies force real band collisions at every seed."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(12)])
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(5, 20))))
             for _ in range(60)]
    for i in range(0, 60, 7):          # planted exact/near copies
        texts[(i + 1) % 60] = texts[i]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    old = docs.filter(F.col("doc_id") % 3 != 2)
    new = docs.filter(F.col("doc_id") % 3 == 2)
    sig_path = str(tmp_path / f"sigs_{seed}.parquet")
    dedup.minhash_signatures(old).withColumn(
        "hash_family", F.lit(dedup.HASH_FAMILY_VERSIONS["md5"])
    ).write.parquet(sig_path)
    got = {(r["doc_a"], r["doc_b"], r["est_jaccard"]) for r in
           dedup.incremental_minhash_candidates(new, sig_path).collect()}
    new_ids = set(range(2, 60, 3))
    full = {(r["doc_a"], r["doc_b"], r["est_jaccard"])
            for r in dedup.minhash_lsh_candidates(docs).collect()
            if r["doc_a"] in new_ids or r["doc_b"] in new_ids}
    assert got == full
    assert full, f"seed {seed}: expected planted collisions to surface"


@pytest.mark.parametrize("seed", [3, 11, 42])
def test_incremental_cluster_assign_equals_full_recluster(spark, seed):
    """For any random edge set split into old/new, maintaining the old
    CC labels with the new edges must equal a from-scratch CC over the
    union -- node for node, label for label (min-id labels)."""
    rng = np.random.default_rng(seed)
    raw = {(int(min(a, b)), int(max(a, b)))
           for a, b in rng.integers(0, 80, size=(120, 2)) if a != b}
    edges = sorted(raw)
    cut = len(edges) // 2
    old_e, new_e = edges[:cut], edges[cut:]
    df = lambda es: spark.createDataFrame(es, "doc_a long, doc_b long")
    old_labels = dedup.connected_components(df(old_e))
    got = {(r["node"], r["label"]) for r in
           dedup.incremental_cluster_assign(df(new_e), old_labels).collect()}
    want = {(r["node"], r["label"]) for r in
            dedup.connected_components(df(edges)).collect()}
    assert got == want


def test_incremental_cluster_assign_merges_old_clusters(spark):
    """A new edge bridging two pre-existing clusters must relabel BOTH
    to the merged min id; untouched clusters keep their labels."""
    df = lambda es: spark.createDataFrame(es, "doc_a long, doc_b long")
    old_labels = dedup.connected_components(
        df([(1, 2), (2, 3), (10, 11), (11, 12), (50, 51)]))
    got = {(r["node"], r["label"]) for r in
           dedup.incremental_cluster_assign(df([(3, 10)]), old_labels).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 1), (11, 1), (12, 1),
                   (50, 50), (51, 50)}


def test_append_ivf_layout_is_retry_idempotent(spark, emb, tmp_path):
    """Re-running a crashed ANN ingest call must not duplicate vectors in
    the cell directories (a duplicated row would surface as a duplicate
    neighbor in every later probe and break append == build-from-union).
    Mirrors the minhash ingestion path's retry contract."""
    old = emb.filter(F.col("vec_id") % 5 != 4)
    new = emb.filter(F.col("vec_id") % 5 == 4)
    cents = np.stack([
        np.asarray(r["embedding"], dtype=float)
        for r in sorted(old.filter(F.col("vec_id") < 20)
                        .select("vec_id", "embedding").collect(),
                        key=lambda r: r["vec_id"])
    ])
    p = str(tmp_path / "ivf_retry")
    similarity.write_ivf_layout(old, p, centroids=cents)
    n_first = similarity.append_ivf_layout(new, p)
    assert n_first == new.count()
    snapshot = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(p).select("vec_id", "cell").collect()
    )
    # full retry: everything already present -> nothing appended
    assert similarity.append_ivf_layout(new, p) == 0
    after = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(p).select("vec_id", "cell").collect()
    )
    assert after == snapshot
    assert len(after) == len(set(after)), "no duplicated vectors"
    # partial retry (crash after some rows landed): only the missing
    # vectors are appended, never the already-present ones again
    p2 = str(tmp_path / "ivf_partial")
    similarity.write_ivf_layout(old, p2, centroids=cents)
    half = new.filter(F.col("vec_id") % 2 == 0)
    similarity.append_ivf_layout(half, p2)
    n_rest = similarity.append_ivf_layout(new, p2)
    assert n_rest == new.count() - half.count()
    got = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(p2).select("vec_id", "cell").collect()
    )
    assert got == snapshot


def test_incremental_minhash_no_append_protects_id_overlap(spark, docs,
                                                           tmp_path):
    """append=False with batch ids ALREADY persisted (retry after a prior
    append=True run) must not double-count the batch's signatures: each
    doc contributes exactly one signature row, so the candidate output
    carries no duplicated rows and equals the append run's output."""
    old = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    sig_path = str(tmp_path / "sigs_overlap.parquet")
    dedup.minhash_signatures(old).withColumn(
        "hash_family", F.lit(dedup.HASH_FAMILY_VERSIONS["md5"])
    ).write.parquet(sig_path)
    # first call persists the batch signatures
    appended = dedup.incremental_minhash_candidates(new, sig_path,
                                                    append=True)
    expect = sorted((r["doc_a"], r["doc_b"], r["est_jaccard"])
                    for r in appended.collect())
    assert expect, "fixture corpus should surface at least one pair"
    # retry with append=False: batch ids now overlap the persisted table
    retried = dedup.incremental_minhash_candidates(new, sig_path,
                                                   append=False)
    got = sorted((r["doc_a"], r["doc_b"], r["est_jaccard"])
                 for r in retried.collect())
    assert got == expect  # sorted lists: equality also proves no dups


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_incremental_canonicalize_equals_full_recompute(spark, tmp_path,
                                                        seed):
    """For any corpus/batch split, maintaining the keeper table
    incrementally (contracted-graph CC + carried keeper rows) must equal
    the from-scratch ``cluster_keepers`` over the union corpus row for
    row -- including merged sizes and re-picked keepers.  Small vocab +
    planted copies force real merges at every seed."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(10)])
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(6, 18))))
             for _ in range(60)]
    for i in range(0, 60, 6):          # planted exact copies
        texts[(i + 2) % 60] = texts[i]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars long")
    old_docs = docs.filter(F.col("doc_id") % 3 != 2)
    new_docs = docs.filter(F.col("doc_id") % 3 == 2)
    all_pairs = dedup.jaccard_prefix_pairs(
        docs, n=3, threshold=0.8).select("doc_a", "doc_b")
    all_pairs = all_pairs.localCheckpoint(eager=True)
    new_ids = {r["doc_id"] for r in new_docs.select("doc_id").collect()}
    old_pairs = all_pairs.filter(
        ~F.col("doc_a").isin(new_ids) & ~F.col("doc_b").isin(new_ids))
    batch_edges = all_pairs.filter(
        F.col("doc_a").isin(new_ids) | F.col("doc_b").isin(new_ids))
    labels = dedup.connected_components(old_pairs)
    keepers = dedup.cluster_keepers(old_docs, old_pairs)
    got = sorted(
        (r["cluster"], r["kept_doc_id"], r["kept_quality"],
         r["cluster_size"])
        for r in dedup.incremental_canonicalize(
            new_docs, batch_edges, labels, keepers).collect()
    )
    want = sorted(
        (r["cluster"], r["kept_doc_id"], r["kept_quality"],
         r["cluster_size"])
        for r in dedup.cluster_keepers(docs, all_pairs).collect()
    )
    assert got == want
    assert any(sz > 1 for *_x, sz in want), "fixture must form clusters"


def test_incremental_canonicalize_merge_changes_keeper(spark):
    """A new doc bridging two old clusters must re-pick the merged
    cluster's keeper from the CARRIED keeper rows (the old corpus is
    never re-read): the losing cluster's keeper is demoted, the merged
    label is the min member id, sizes add, and untouched clusters carry
    over verbatim."""
    docs = spark.createDataFrame(
        [  # cluster A = {1, 2} keeper 2 (q 50); B = {10, 11} keeper 10
           # (q 90); untouched C = {30, 31} keeper 30; singleton 40
            (1, 40), (2, 50), (10, 90), (11, 20),
            (30, 70), (31, 60), (40, 10),
        ],
        "doc_id long, n_chars long")
    old_edges = spark.createDataFrame(
        [(1, 2), (10, 11), (30, 31)], "doc_a long, doc_b long")
    labels = dedup.connected_components(old_edges)
    keepers = dedup.cluster_keepers(docs, old_edges)
    assert {(r["cluster"], r["kept_doc_id"]) for r in keepers.collect()} == {
        (1, 2), (10, 10), (30, 30), (40, 40)}
    # batch: doc 100 (q 5) bridges A and B via members 2 and 11
    new_docs = spark.createDataFrame([(100, 5)], "doc_id long, n_chars long")
    new_edges = spark.createDataFrame(
        [(100, 2), (100, 11)], "doc_a long, doc_b long")
    got = {
        r["cluster"]: (r["kept_doc_id"], r["kept_quality"],
                       r["cluster_size"])
        for r in dedup.incremental_canonicalize(
            new_docs, new_edges, labels, keepers).collect()
    }
    assert got == {
        1: (10, 90, 5),    # merged A+B+new: label min=1, keeper = B's 10
        30: (30, 70, 2),   # untouched, verbatim
        40: (40, 10, 1),   # untouched singleton, verbatim
    }
    # edge-less batch doc becomes its own singleton keeper
    lone = spark.createDataFrame([(200, 33)], "doc_id long, n_chars long")
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    got2 = {
        r["cluster"]: (r["kept_doc_id"], r["kept_quality"],
                       r["cluster_size"])
        for r in dedup.incremental_canonicalize(
            lone, empty, labels, keepers).collect()
    }
    assert got2[200] == (200, 33, 1)
    assert got2[1] == (2, 50, 2) and got2[10] == (10, 90, 2)


def test_audit_band_skew_matches_manual_histogram(spark, docs):
    """The audit's per-band numbers must equal a hand-computed histogram
    of the band buckets: doc counts, bucket counts, max bucket, exact
    pair mass (sum k*(k-1)/2 -- the candidate volume the band join would
    emit), hot-bucket restriction, and the top-bucket ordering."""
    from collections import Counter

    sigs = dedup.minhash_signatures(docs)
    got = {r["band"]: r for r in dedup.audit_band_skew(
        sigs, n_bands=8, n_perm=64, top_n=3, min_hot_size=2).collect()}
    bb = dedup._band_buckets(sigs, 8, 8).collect()
    by_band: dict[int, Counter] = {}
    for r in bb:
        by_band.setdefault(r["band"], Counter())[r["bucket"]] += 1
    assert set(got) == set(by_band)
    for band, cnt in by_band.items():
        row = got[band]
        assert row["n_docs"] == sum(cnt.values())
        assert row["n_buckets"] == len(cnt)
        assert row["max_bucket"] == max(cnt.values())
        mass = sum(k * (k - 1) // 2 for k in cnt.values())
        assert row["pair_mass"] == mass
        hot = {b: k for b, k in cnt.items() if k >= 2}
        assert row["n_hot_buckets"] == len(hot)
        hot_mass = sum(k * (k - 1) // 2 for k in hot.values())
        assert row["hot_pair_mass"] == hot_mass
        if mass:
            assert row["hot_mass_share"] == hot_mass / mass
        want_top = sorted(((k, b) for b, k in hot.items()),
                          key=lambda t: (-t[0], t[1]))[:3]
        assert [(t["size"], t["bucket"]) for t in row["top_buckets"]] == [
            (k, b) for k, b in want_top]


def test_audit_band_skew_flags_densification(spark):
    """The audit must FIRE on a vocabulary-satiated corpus (every doc
    resembles every doc -> a few buckets carry most of the pair mass)
    and stay quiet on a diverse one -- the pre-rollout densification
    check from SCALE.md round 8, as an operator."""
    rng = np.random.default_rng(5)
    tiny = np.array(["a", "b", "c"])            # satiated: 3-word vocab
    # 6 templates x 80 docs: the shingle sets collapse onto a handful of
    # distinct signatures, so band buckets pile up -- the densification
    # signature (every doc resembles every doc)
    templates = [" ".join(rng.choice(tiny, size=12)) for _ in range(6)]
    dense = spark.createDataFrame(
        [(i, templates[int(rng.integers(0, 6))]) for i in range(80)],
        "doc_id long, text string")
    wide = np.array([f"tok{i}" for i in range(5000)])  # diverse vocab
    sparse = spark.createDataFrame(
        [(i, " ".join(rng.choice(wide, size=12, replace=False)))
         for i in range(80)],
        "doc_id long, text string")
    a_dense = dedup.audit_band_skew(dedup.minhash_signatures(dense)).collect()
    a_sparse = dedup.audit_band_skew(
        dedup.minhash_signatures(sparse)).collect()
    assert max(r["max_bucket"] for r in a_dense) >= 10
    assert all(r["hot_mass_share"] >= 0.9 for r in a_dense
               if r["pair_mass"] > 0)
    assert sum(r["pair_mass"] for r in a_dense) > 50 * sum(
        r["pair_mass"] for r in a_sparse)
    # diverse corpus: buckets stay near-singleton
    assert max(r["max_bucket"] for r in a_sparse) <= 3


def _boilerplate_corpus(spark, seed=11, n_docs=90, n_templates=4):
    """Boilerplate-heavy mixed corpus: a large minority of docs are exact
    template copies (the round-9 densification adversary), the rest are
    diverse, plus planted NON-twin near-dup pairs (one word changed) so
    the rep-pair verify/expand leg is exercised, not just the twin leg."""
    rng = np.random.default_rng(seed)
    wide = np.array([f"tok{i}" for i in range(4000)])
    templates = [" ".join(rng.choice(wide, size=12, replace=False))
                 for _ in range(n_templates)]
    rows = []
    for i in range(n_docs):
        if i % 3 == 0:                      # 1/3 boilerplate
            rows.append((i, templates[i % n_templates]))
        elif i % 10 == 1 and rows:          # planted near-dup of doc i-1
            toks = rows[-1][1].split()
            toks[-1] = "changed"
            rows.append((i, " ".join(toks)))
        else:
            rows.append((i, " ".join(rng.choice(wide, size=12,
                                                replace=False))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_factored_candidates_identical_pairs(spark, docs):
    """The router's contract: the signature-twin-factored path returns
    EXACTLY the plain banded join's pairs -- on the boilerplate-heavy
    corpus it exists for, on a diverse corpus, and on the real documents
    table -- including est_jaccard values (twins at exactly 1.0, rep
    expansion carrying the verified estimate to every member pair)."""
    cases = [
        _boilerplate_corpus(spark),
        docs.select("doc_id", "text"),
    ]
    for corpus in cases:
        want = sorted(
            tuple(r) for r in
            dedup.minhash_lsh_candidates(corpus, min_est_jaccard=0.5)
            .collect())
        got = sorted(
            tuple(r) for r in
            dedup.minhash_candidates_routed(
                corpus, min_est_jaccard=0.5, factor_exact_twins=True)
            .collect())
        assert got == want
    # the boilerplate case must actually contain twin AND non-twin pairs
    bp = sorted(tuple(r) for r in dedup.minhash_candidates_routed(
        _boilerplate_corpus(spark), factor_exact_twins=True).collect())
    assert any(e == 1.0 for _, _, e in bp), "fixture must have twin pairs"
    assert any(e < 1.0 for _, _, e in bp), "fixture must have rep pairs"


def test_route_band_skew_decision(spark):
    """The audit-to-action gate: boilerplate duplicate-mass routes to the
    factored path, a diverse corpus keeps the plain join, and the routed
    entry point follows the decision with identical results."""
    rng = np.random.default_rng(5)
    bp = _boilerplate_corpus(spark, n_docs=120, n_templates=3)
    wide = np.array([f"tok{i}" for i in range(5000)])
    diverse = spark.createDataFrame(
        [(i, " ".join(rng.choice(wide, size=12, replace=False)))
         for i in range(120)],
        "doc_id long, text string")
    hot = dedup.route_band_skew(dedup.minhash_signatures(bp))
    cold = dedup.route_band_skew(dedup.minhash_signatures(diverse))
    assert hot["factored"] and hot["max_bucket"] >= dedup.HOT_BUCKET_MIN_SIZE
    assert hot["hot_mass_share"] >= dedup.HOT_MASS_SHARE_GATE
    assert not cold["factored"]
    # auto-routing returns the same pairs as the plain spelling
    want = sorted(tuple(r) for r in
                  dedup.minhash_lsh_candidates(bp).collect())
    got = sorted(tuple(r) for r in
                 dedup.minhash_candidates_routed(bp).collect())
    assert got == want


def test_ingest_batch_sequential_equals_full_rebuild(spark, docs, tmp_path):
    """Two sequential ingest_batch calls over an LSM-shaped state must
    leave the RESOLVED labels and keepers identical to a from-scratch
    build over the union corpus -- the composition contract of the whole
    incremental ingestion story (candidates -> decisions -> keepers) in
    one call, including merges across batch boundaries."""
    state = str(tmp_path / "state")
    corpus = docs.filter(F.col("doc_id") % 5 < 3)
    b1 = docs.filter(F.col("doc_id") % 5 == 3)
    b2 = docs.filter(F.col("doc_id") % 5 == 4)
    dedup.init_dedup_state(corpus, state)
    c1 = dedup.ingest_batch(b1, state)
    assert c1.count() >= 0
    c2 = dedup.ingest_batch(b2, state)
    labels, keepers = dedup.load_cluster_state(spark, state)
    full_pairs = dedup.minhash_lsh_candidates(docs).localCheckpoint(
        eager=True)
    want_labels = sorted(
        (r["node"], r["label"])
        for r in dedup.connected_components(full_pairs).collect())
    got_labels = sorted((r["node"], r["label"]) for r in labels.collect())
    assert got_labels == want_labels
    want_keepers = sorted(
        (r["cluster"], r["kept_doc_id"], r["kept_quality"],
         r["cluster_size"])
        for r in dedup.cluster_keepers(docs, full_pairs).collect())
    got_keepers = sorted(
        (r["cluster"], r["kept_doc_id"], r["kept_quality"],
         r["cluster_size"])
        for r in keepers.collect())
    assert got_keepers == want_keepers
    # the batch's candidates are exactly the full-corpus pairs touching it
    b2_ids = {r["doc_id"] for r in b2.select("doc_id").collect()}
    want_c2 = sorted(
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in full_pairs.collect()
        if r["doc_a"] in b2_ids or r["doc_b"] in b2_ids)
    got_c2 = sorted((r["doc_a"], r["doc_b"], r["est_jaccard"])
                    for r in c2.collect())
    assert got_c2 == want_c2

    # RETRY: re-running the last call must be a no-op on state (the
    # content stamp is recognized) and still return the candidates
    n_lab = spark.read.parquet(f"{state}/labels_delta.parquet").count()
    n_keep = spark.read.parquet(f"{state}/keepers_delta.parquet").count()
    c2r = dedup.ingest_batch(b2, state)
    assert sorted((r["doc_a"], r["doc_b"], r["est_jaccard"])
                  for r in c2r.collect()) == want_c2
    assert spark.read.parquet(
        f"{state}/labels_delta.parquet").count() == n_lab
    assert spark.read.parquet(
        f"{state}/keepers_delta.parquet").count() == n_keep
    got2 = dedup.load_cluster_state(spark, state)
    assert sorted((r["node"], r["label"])
                  for r in got2[0].collect()) == want_labels


def test_ingest_batch_merge_writes_tombstone(spark, tmp_path):
    """A batch doc bridging two old clusters must tombstone the absorbed
    cluster id in the keeper delta log: the resolved view shows ONE
    merged cluster (summed size, re-picked keeper) and the absorbed id
    is gone -- while untouched clusters' rows are never rewritten.
    Fixture is pinned: seed-42 md5 minhash with 1-row bands makes the
    bridge's band collisions with BOTH old clusters deterministic."""
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        10: "one two three four five six seven eight nine ten",
        11: "one two three four five six seven eight nine eleven",
        30: "lorem ipsum dolor sit amet consectetur adipiscing",
    }
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in texts.items()],
        "doc_id long, text string, n_chars long")
    cfg = dict(n_bands=64, min_est_jaccard=0.1)
    state = str(tmp_path / "state_merge")
    dedup.init_dedup_state(docs, state, **cfg)
    _, keepers0 = dedup.load_cluster_state(spark, state)
    assert {r["cluster"]: r["cluster_size"] for r in keepers0.collect()} \
        == {1: 2, 10: 2, 30: 1}
    # bridge doc: half cluster-1 tokens, half cluster-10 tokens
    br = "alpha beta gamma delta epsilon six seven eight nine ten"
    bridge = spark.createDataFrame(
        [(100, br, len(br))], "doc_id long, text string, n_chars long")
    cands = dedup.ingest_batch(bridge, state, **cfg)
    assert {(r["doc_a"], r["doc_b"]) for r in cands.collect()} == {
        (1, 100), (2, 100), (10, 100), (11, 100)}
    labels, keepers = dedup.load_cluster_state(spark, state)
    got = {r["cluster"]: (r["kept_doc_id"], r["cluster_size"])
           for r in keepers.collect()}
    assert set(got) == {1, 30}, "cluster 10 must be absorbed into 1"
    assert got[1][1] == 5  # 1, 2, 10, 11, 100
    tomb = spark.read.parquet(
        f"{state}/keepers_delta.parquet").filter(~F.col("alive"))
    assert {r["cluster"] for r in tomb.collect()} == {10}
    lab = {r["node"]: r["label"] for r in labels.collect()}
    assert lab[10] == 1 and lab[11] == 1 and lab[100] == 1
    # untouched singleton's delta rows: exactly the genesis row
    keep_rows = spark.read.parquet(
        f"{state}/keepers_delta.parquet").filter(F.col("cluster") == 30)
    assert keep_rows.count() == 1
    assert got[30] == (30, 1)


def test_compact_dedup_state_preserves_resolution_and_retry(spark, docs,
                                                            tmp_path):
    """LSM compaction: collapsing the delta logs to a resolved snapshot
    must (a) leave load_cluster_state identical, (b) physically shrink
    the logs (tombstones and superseded generations vanish), (c) keep
    retry protection for PRE-compaction batches via the stamp sidecar
    (re-applying one would double-count its docs in cluster sizes), and
    (d) compose: a post-compaction ingest still equals the full rebuild."""
    state = str(tmp_path / "state_c")
    corpus = docs.filter(F.col("doc_id") % 5 < 3)
    b1 = docs.filter(F.col("doc_id") % 5 == 3)
    b2 = docs.filter(F.col("doc_id") % 5 == 4)
    dedup.init_dedup_state(corpus, state)
    dedup.ingest_batch(b1, state)
    before = {
        "labels": sorted((r["node"], r["label"]) for r in
                         dedup.load_cluster_state(spark, state)[0].collect()),
        "keepers": sorted(tuple(r) for r in
                          dedup.load_cluster_state(spark, state)[1].collect()),
    }
    stats = dedup.compact_dedup_state(spark, state)
    assert stats["keepers_rows_after"] < stats["keepers_rows_before"]
    labels_c, keepers_c = dedup.load_cluster_state(spark, state)
    assert sorted((r["node"], r["label"])
                  for r in labels_c.collect()) == before["labels"]
    assert sorted(tuple(r) for r in keepers_c.collect()) == before["keepers"]
    # (c) retrying the PRE-compaction batch is still a no-op on state
    n_keep = spark.read.parquet(f"{state}/keepers_delta.parquet").count()
    dedup.ingest_batch(b1, state)
    assert spark.read.parquet(
        f"{state}/keepers_delta.parquet").count() == n_keep
    # (d) the next real batch composes to the full rebuild
    dedup.ingest_batch(b2, state)
    _, keepers = dedup.load_cluster_state(spark, state)
    full_pairs = dedup.minhash_lsh_candidates(docs)
    want = sorted(tuple(r) for r in
                  dedup.cluster_keepers(docs, full_pairs).collect())
    assert sorted(tuple(r) for r in keepers.collect()) == want


def _crash_fixture(spark):
    """Five-doc corpus with two 2-clusters + a singleton, plus a bridge
    doc whose tokens straddle both clusters -- ingesting it forces a
    cross-cluster merge (tombstone + re-picked keeper), the hardest case
    for crash-repair correctness."""
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        10: "one two three four five six seven eight nine ten",
        11: "one two three four five six seven eight nine eleven",
        30: "lorem ipsum dolor sit amet consectetur adipiscing",
    }
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in texts.items()],
        "doc_id long, text string, n_chars long")
    br = "alpha beta gamma delta epsilon six seven eight nine ten"
    bridge = spark.createDataFrame(
        [(100, br, len(br))], "doc_id long, text string, n_chars long")
    return docs, bridge


def _stage_partial_crash(spark, state, bridge, keeper_subset_rows=0):
    """Replay ingest_batch up to a crash: signature append + label-delta
    append land, the keeper append lands only ``keeper_subset_rows`` of
    its rows (0 = the classic between-appends window; >0 = a crash
    DURING the keeper job commit, where a subset of part files carries
    the stamp), and the ledger commit never happens."""
    sig_path = f"{state}/signatures.parquet"
    lab_path = f"{state}/labels_delta.parquet"
    keep_path = f"{state}/keepers_delta.parquet"
    stamp = dedup._batch_stamp(bridge)
    cands = dedup.incremental_minhash_candidates(
        bridge, sig_path, n_bands=64, min_est_jaccard=0.1, append=True)
    labels0, _ = dedup.load_cluster_state(spark, state)
    updated, _t = dedup._incremental_cc_updated(
        cands.select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b")), labels0)
    (updated.withColumn("batch_seq", F.lit(1).cast("long"))
     .withColumn("batch_stamp", F.lit(stamp))
     .write.mode("append").parquet(lab_path))
    if keeper_subset_rows:
        # partial keeper job commit: SOME keeper rows carry the stamp
        (spark.createDataFrame(
            [(1, 100, 50, 5, True)],
            "cluster long, kept_doc_id long, kept_quality long, "
            "cluster_size long, alive boolean")
         .limit(keeper_subset_rows)
         .withColumn("batch_seq", F.lit(1).cast("long"))
         .withColumn("batch_stamp", F.lit(stamp))
         .write.mode("append").parquet(keep_path))
    return stamp, updated


def _assert_merged_state(spark, state, keep_path, lab_path=None):
    labels, keepers = dedup.load_cluster_state(spark, state)
    got = {r["cluster"]: (r["kept_doc_id"], r["cluster_size"])
           for r in keepers.collect()}
    assert set(got) == {1, 30}, "absorbed cluster 10 must be tombstoned"
    assert got[1][1] == 5, "merged keeper must carry ALL five members"
    lab = {r["node"]: r["label"] for r in labels.collect()}
    assert lab[10] == 1 and lab[11] == 1 and lab[100] == 1


@pytest.mark.parametrize("keeper_subset_rows", [0, 1])
def test_ingest_batch_repairs_partial_crash(spark, tmp_path,
                                            keeper_subset_rows):
    """A crashed ingest (label rows landed; keeper rows absent OR
    partially landed from a torn parquet job commit -- the ledger commit
    never happened) must be repaired exactly on retry: the uncommitted
    orphan rows are invisible to resolution, so the retry re-applies the
    batch against the exact pre-batch view and its fresh generation
    shadows the debris.  Without the ledger rule, the partially-landed
    keeper case would classify as committed and the missing rows would
    never be repaired."""
    docs, bridge = _crash_fixture(spark)
    cfg = dict(n_bands=64, min_est_jaccard=0.1)
    state = str(tmp_path / "state_crash")
    dedup.init_dedup_state(docs, state, **cfg)
    lab_path = f"{state}/labels_delta.parquet"
    keep_path = f"{state}/keepers_delta.parquet"
    stamp, updated = _stage_partial_crash(
        spark, state, bridge, keeper_subset_rows=keeper_subset_rows)
    # the orphan generation is invisible to readers pre-retry
    _, keepers_pre = dedup.load_cluster_state(spark, state)
    assert {r["cluster"]: r["cluster_size"] for r in keepers_pre.collect()} \
        == {1: 2, 10: 2, 30: 1}

    # retry: stamp not in the ledger -> clean fresh apply
    dedup.ingest_batch(bridge, state, **cfg)
    _assert_merged_state(spark, state, keep_path)
    tomb = spark.read.parquet(keep_path).filter(~F.col("alive"))
    assert {r["cluster"] for r in tomb.collect()} == {10}
    # the retry's generation landed above the orphan's seq and is the
    # committed one; the orphan rows at seq 1 are shadowed debris
    max_seq = spark.read.parquet(lab_path).filter(
        F.col("batch_stamp") == stamp).agg(
        F.max("batch_seq")).collect()[0][0]
    assert max_seq >= 2
    assert spark.read.parquet(lab_path).filter(
        (F.col("batch_stamp") == stamp) & (F.col("batch_seq") == max_seq)
    ).count() == updated.count()
    assert stamp in dedup._applied_stamps(spark, state)


def test_maybe_compact_triggers_on_revising_feed(spark, docs, tmp_path):
    """The keeper-log-vs-resolved gap is the compaction trigger on
    state-revising feeds: ingesting the SAME cluster-revising pattern
    grows the log with superseded generations while the resolved view
    stays flat, so the ratio crosses the gate; compaction resets it and
    preserves resolution; a mostly-new feed stays below the gate and is
    correctly skipped."""
    state = str(tmp_path / "state_trig")
    corpus = docs.filter(F.col("doc_id") % 5 < 3)
    dedup.init_dedup_state(corpus, state)
    # revising feed: each batch's docs collide with existing clusters
    # (batch 1 bridges, batch 2 bridges more) -> re-picks + tombstones
    dedup.ingest_batch(docs.filter(F.col("doc_id") % 5 == 3), state)
    dedup.ingest_batch(docs.filter(F.col("doc_id") % 5 == 4), state)
    labels_v, keepers_v = dedup.load_cluster_state(spark, state)
    lab_gap = spark.read.parquet(
        f"{state}/labels_delta.parquet").count() / labels_v.count()
    keep_gap = spark.read.parquet(
        f"{state}/keepers_delta.parquet").count() / keepers_v.count()
    resolved = keepers_v.count()
    before = sorted(tuple(r) for r in keepers_v.collect())
    # below the size floor: skipped regardless of ratio
    assert dedup.maybe_compact_dedup_state(
        spark, state, min_log_rows=10**9) is None
    gate = max(lab_gap, keep_gap)
    assert gate > 1.0, "fixture must have superseded generations"
    stats = dedup.maybe_compact_dedup_state(
        spark, state, gap_ratio=min(2.0, gate * 0.9), min_log_rows=1)
    assert stats is not None and stats["keepers_rows_after"] == resolved
    after = sorted(tuple(r) for r in
                   dedup.load_cluster_state(spark, state)[1].collect())
    assert after == before
    # gap reset: an immediate re-check at the same gate is a no-op
    assert dedup.maybe_compact_dedup_state(
        spark, state, gap_ratio=1.5, min_log_rows=1) is None


def test_ingest_crash_then_compact_then_retry(spark, tmp_path):
    """Compaction between a crashed ingest and its retry must not poison
    the retry: the orphan generation is excluded from the compacted
    snapshot (it is uncommitted) and its stamp stays out of the ledger,
    so the retry after compaction is a clean fresh apply.  The old
    protocol resolved orphan label rows INTO the snapshot while erasing
    their stamp -- the retry then computed keeper deltas against labels
    that already contained the batch, yielding singleton keeper rows for
    merged-in docs and undercounted cluster sizes."""
    docs, bridge = _crash_fixture(spark)
    cfg = dict(n_bands=64, min_est_jaccard=0.1)
    state = str(tmp_path / "state_ccr")
    dedup.init_dedup_state(docs, state, **cfg)
    lab_path = f"{state}/labels_delta.parquet"
    keep_path = f"{state}/keepers_delta.parquet"
    stamp, _updated = _stage_partial_crash(spark, state, bridge)

    dedup.compact_dedup_state(spark, state)
    # the orphan generation was physically dropped, not folded in
    assert spark.read.parquet(lab_path).filter(
        F.col("batch_stamp") == stamp).count() == 0
    assert stamp not in dedup._applied_stamps(spark, state)
    lab_c = {r["node"]: r["label"] for r in
             dedup.load_cluster_state(spark, state)[0].collect()}
    assert 100 not in lab_c and lab_c[10] == 10, \
        "compacted labels must be the PRE-batch view"

    # retry after compaction: clean fresh apply, exact merged state
    dedup.ingest_batch(bridge, state, **cfg)
    _assert_merged_state(spark, state, keep_path)
    assert stamp in dedup._applied_stamps(spark, state)
    # and the batch is recognized on a further retry (no-op on state)
    n_keep = spark.read.parquet(keep_path).count()
    dedup.ingest_batch(bridge, state, **cfg)
    assert spark.read.parquet(keep_path).count() == n_keep


def test_audit_ivf_balance_detects_drift_and_rebuild_fixes(spark, tmp_path):
    """The ANN compaction trigger + the compaction job: appends against
    FROZEN centroids concentrate a drifted distribution into one cell
    (audit shows the hot-cell skew); rebuild_ivf_layout re-trains on the
    current distribution and rewrites in place -- vec set preserved
    exactly, skew collapsed, probes work against the new geometry."""
    import glob

    rng = np.random.default_rng(3)
    base = rng.standard_normal((120, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>")
    p = str(tmp_path / "ivf_drift")
    similarity.write_ivf_layout(emb, p, n_cells=8, sample_size=120)
    a0 = similarity.audit_ivf_balance(spark, p).collect()
    assert sum(r["n_rows"] for r in a0) == 120
    # drifted batch: 200 vectors in a tight far-away blob -> one cell
    drift = rng.standard_normal((200, 8)) * 0.05 + 25.0
    newv = spark.createDataFrame(
        [(1000 + i, [float(x) for x in v]) for i, v in enumerate(drift)],
        "vec_id long, embedding array<double>")
    similarity.append_ivf_layout(newv, p)
    a1 = similarity.audit_ivf_balance(spark, p).collect()
    hot = max(a1, key=lambda r: r["skew"])
    assert hot["n_rows"] >= 200          # the whole blob in one cell
    assert hot["skew"] > 3.0             # audit fires
    before_ids = {r["vec_id"] for r in
                  spark.read.parquet(p).select("vec_id").collect()}
    similarity.rebuild_ivf_layout(spark, p, n_cells=8, sample_size=320)
    a2 = similarity.audit_ivf_balance(spark, p).collect()
    assert max(r["skew"] for r in a2) < hot["skew"]
    after_ids = {r["vec_id"] for r in
                 spark.read.parquet(p).select("vec_id").collect()}
    assert after_ids == before_ids       # rewrite preserves the vector set
    assert glob.glob(glob.escape(p) + "?*") == []   # no swap debris
    # probes pick up the new geometry: a drifted query finds drifted
    # neighbors through the rewritten centroid table
    q = spark.createDataFrame(
        [(1000, [25.0] * 8)], "query_id long, qv array<double>")
    res = similarity.ivf_layout_topk(spark, p, q, k=5, n_probe=2).collect()
    assert len(res) == 5
    assert all(r["neighbor_id"] >= 1000 for r in res)


@pytest.mark.parametrize("old_sfx", [
    "__rebuild_old",   # fixed name before swap_dir
    ".old-0a1b",       # swap_dir's name
])
def test_rebuild_ivf_layout_heals_a_crash_between_its_renames(
        spark, tmp_path, old_sfx):
    """A rebuild that died between its two renames left the layout only
    in the old sibling.  The next rebuild_ivf_layout restores it and
    rebuilds from it: the vector set is preserved, no sibling remains."""
    import glob
    import os

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v])
         for i, v in enumerate(rng.standard_normal((60, 4)))],
        "vec_id long, embedding array<double>")
    p = str(tmp_path / "ivf")
    similarity.write_ivf_layout(emb, p, n_cells=4, sample_size=60)
    os.rename(p, p + old_sfx)
    similarity.rebuild_ivf_layout(spark, p, n_cells=4, sample_size=60)
    ids = sorted(r["vec_id"] for r in
                 spark.read.parquet(p).select("vec_id").collect())
    assert ids == list(range(60))
    assert glob.glob(glob.escape(p) + "?*") == []


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_ingest_batch_random_split_composition(spark, tmp_path, seed):
    """Randomized-corpora sweep of the orchestrator's composition
    contract: for ANY corpus/batch/batch split, init + sequential
    ingest_batch calls leave the resolved labels AND keepers equal to the
    from-scratch build over the union -- small vocab + planted copies
    force real band collisions (and cross-batch merges) at every seed."""
    rng = np.random.default_rng(100 + seed)
    vocab = np.array([f"w{i}" for i in range(10)])
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(6, 16))))
             for _ in range(54)]
    for i in range(0, 54, 5):          # planted exact copies
        texts[(i + 3) % 54] = texts[i]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars long")
    part = (F.crc32(F.col("doc_id").cast("string")) + F.lit(seed)) % 3
    state = str(tmp_path / f"state_{seed}")
    dedup.init_dedup_state(docs.filter(part == 0), state)
    dedup.ingest_batch(docs.filter(part == 1), state)
    dedup.ingest_batch(docs.filter(part == 2), state)
    labels, keepers = dedup.load_cluster_state(spark, state)
    full_pairs = dedup.minhash_lsh_candidates(docs).localCheckpoint(
        eager=True)
    assert sorted((r["node"], r["label"]) for r in labels.collect()) == \
        sorted((r["node"], r["label"]) for r in
               dedup.connected_components(full_pairs).collect())
    got = sorted(tuple(r) for r in keepers.collect())
    want = sorted(tuple(r) for r in
                  dedup.cluster_keepers(docs, full_pairs).collect())
    assert got == want
    assert any(t[3] > 1 for t in want), "fixture must form clusters"


# ---------------------------------------------------------------------------
# CDC span dedup (Lee et al. 2022 rewriting transform, CDC relaxation)


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_cdc_span_dedup_identity_on_unique_corpus(spark):
    """With no repeated chunks, every chunk survives and the rewritten text
    is exactly the whitespace-normalized original."""
    rng = np.random.default_rng(7)
    words = [f"w{i}" for i in range(500)]
    rows = [
        (i, " ".join(rng.choice(words, size=40, replace=False)))
        for i in range(20)
    ]
    out = {
        r["doc_id"]: r
        for r in dedup.cdc_span_dedup(_mk_docs(spark, rows)).collect()
    }
    for i, t in rows:
        assert out[i]["n_kept"] == out[i]["n_chunks"]
        assert out[i]["clean_text"] == t.lower()
        assert out[i]["clean_n_tokens"] == 40


def test_cdc_span_dedup_removes_exact_copy(spark):
    """A verbatim copy of an earlier document loses every chunk."""
    rng = np.random.default_rng(11)
    words = [f"w{i}" for i in range(300)]
    base = " ".join(rng.choice(words, size=60, replace=False))
    other = " ".join(rng.choice(words, size=60, replace=False))
    out = {
        r["doc_id"]: r
        for r in dedup.cdc_span_dedup(
            _mk_docs(spark, [(1, base), (2, other), (3, base)])
        ).collect()
    }
    assert out[3]["n_kept"] == 0
    assert out[3]["clean_text"] == ""
    assert out[1]["n_kept"] == out[1]["n_chunks"]  # first occurrence kept


def test_cdc_span_dedup_alignment_independence(spark):
    """A shared span at a DIFFERENT token offset still dedups: CDC
    boundaries are content-local, so the copy's interior chunks hash
    identically no matter the shift (fixed-width blocking fails this for
    every shift not congruent to 0 mod the block width)."""
    rng = np.random.default_rng(13)
    words = [f"w{i}" for i in range(400)]
    span = " ".join(rng.choice(words, size=64, replace=False))
    shifted = "zz1 zz2 zz3 " + span  # offset 3, not a multiple of any block
    out = {
        r["doc_id"]: r
        for r in dedup.cdc_span_dedup(
            _mk_docs(spark, [(1, span), (2, shifted)])
        ).collect()
    }
    # the copy keeps at most the splice-boundary chunk(s); the span's
    # interior chunks (most of its mass) must dedup away
    assert out[2]["clean_n_tokens"] < 64 // 2, (
        f"shifted copy kept {out[2]['clean_n_tokens']} of 67 tokens -- "
        "alignment independence broken"
    )
    assert out[1]["n_kept"] == out[1]["n_chunks"]


def test_cdc_chunks_cover_and_tile(spark, docs):
    """Chunks tile each document exactly: concatenating them in order
    reproduces the tokenized text; token counts add up."""
    ch = dedup.cdc_chunks(docs.limit(50))
    back = (
        ch.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("rebuilt"),
            F.sum("n_tokens").alias("n_tok"),
        )
    )
    joined = (
        docs.limit(50)
        .select(
            "doc_id",
            F.array_join(dedup._tokens(F.col("text")), " ").alias("norm"),
            F.size(dedup._tokens(F.col("text"))).alias("n"),
        )
        .join(back, "doc_id")
        .collect()
    )
    assert len(joined) == 50
    for r in joined:
        assert r["rebuilt"] == r["norm"]
        assert r["n_tok"] == r["n"]


# ---------------------------------------------------------------------------
# leakage-guarded split


def _is_holdout(doc_id: int) -> bool:
    import hashlib

    return hashlib.md5(str(doc_id).encode()).hexdigest()[0] in "01"


def test_leakage_guarded_split_flags_planted_leak(spark):
    """A train document sharing an 8-gram with a holdout document is
    counted leaky; a disjoint train document is not."""
    # find ids on each side of the deterministic split
    hold_id = next(i for i in range(1000) if _is_holdout(i))
    train_ids = [i for i in range(1000) if not _is_holdout(i)][:2]
    secret = " ".join(f"s{i}" for i in range(8))  # the shared 8-gram
    rows = [
        (hold_id, "pre1 pre2 " + secret + " post1 post2"),
        (train_ids[0], "alpha beta " + secret + " gamma delta"),
        (train_ids[1], " ".join(f"u{i}" for i in range(12))),
    ]
    rep = dedup.leakage_guarded_split(_mk_docs(spark, rows)).collect()
    assert len(rep) == 1  # single source
    r = rep[0]
    assert r["n_holdout"] == 1
    assert r["n_train"] == 2
    assert r["n_leaky_train"] == 1
    assert abs(r["leak_rate"] - 0.5) < 1e-9


def test_leakage_split_is_deterministic(spark, docs):
    a = sorted(map(tuple, dedup.leakage_guarded_split(docs).collect()))
    b = sorted(map(tuple, dedup.leakage_guarded_split(docs).collect()))
    assert a == b
    # every document lands in exactly one split
    tot = sum(r[1] + r[2] for r in a)
    assert tot == docs.count()


# ---------------------------------------------------------------------------
# MMR diversified top-k


def test_mmr_topk_prefers_diversity(spark):
    """Planted geometry: two near-identical highly-relevant vectors and one
    orthogonal moderately-relevant vector.  Plain top-2 takes the twins;
    MMR (lam=0.7) must take the orthogonal vector second."""
    d = 8
    q = np.zeros(d); q[0] = 1.0
    a1 = np.zeros(d); a1[0] = 1.0; a1[1] = 0.9     # most relevant
    a2 = np.zeros(d); a2[0] = 1.0; a2[1] = 1.001   # near-duplicate of a1
    b = np.zeros(d); b[0] = 1.0; b[1] = -1.0       # as relevant as a2, far from a1
    emb = spark.createDataFrame(
        [(0, q.tolist()), (10, a1.tolist()), (11, a2.tolist()), (12, b.tolist())],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["rank"]: r
        for r in similarity.mmr_topk(emb, n_queries=1, k=3).collect()
    }
    assert out[1]["neighbor_id"] == 10      # pure relevance first
    assert out[2]["neighbor_id"] == 12      # diversity beats the twin
    assert out[3]["neighbor_id"] == 11      # twin comes last
    # scores are monotone non-increasing in rank
    assert out[1]["mmr_score"] >= out[2]["mmr_score"] >= out[3]["mmr_score"]


def test_mmr_rank1_is_pure_relevance_topk(spark, emb):
    """Rank-1 picks must equal brute-force top-1 (the empty-set penalty is
    zero, so MMR round 1 is pure relevance)."""
    mmr1 = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.mmr_topk(emb, n_queries=4, k=3)
        .filter("rank = 1")
        .collect()
    }
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.brute_force_topk(emb, n_queries=4, k=1).collect()
    }
    assert mmr1 == top1


def test_mmr_selected_set_is_more_diverse_than_topk(spark, emb):
    """The whole point: max pairwise cosine within MMR's selection must not
    exceed that within plain top-k's selection (same k, same queries)."""
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=float)
        for r in emb.collect()
    }

    def max_pair_sim(ids):
        M = np.stack([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
        S = M @ M.T
        np.fill_diagonal(S, -1)
        return S.max()

    mmr = similarity.mmr_topk(emb, n_queries=4, k=8).collect()
    top = similarity.brute_force_topk(emb, n_queries=4, k=8).collect()
    for qid in range(4):
        m_ids = [r["neighbor_id"] for r in mmr if r["query_id"] == qid]
        t_ids = [r["neighbor_id"] for r in top if r["query_id"] == qid]
        assert max_pair_sim(m_ids) <= max_pair_sim(t_ids) + 1e-12


# ---------------------------------------------------------------------------
# incremental CDC span dedup (ledger-backed ingestion leg)


def _dup_heavy_rows(seed, ids, n_words=40, vocab=120):
    """Word-soup rows with a small vocab so cross-document chunk
    collisions actually occur."""
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(vocab)]
    return [(i, " ".join(rng.choice(words, size=n_words))) for i in ids]


def test_cdc_ingest_composes_with_init(spark, tmp_path):
    """init on docs 0..9 + ingest of 10..19 must equal the one-shot
    cdc_span_dedup over all 20 docs (arrival order == doc_id order here),
    restricted to the batch."""
    rows = _dup_heavy_rows(3, range(20))
    all_docs = _mk_docs(spark, rows)
    init_docs = all_docs.filter("doc_id < 10")
    batch = all_docs.filter("doc_id >= 10")
    state = str(tmp_path / "state")
    init_rw = dedup.init_cdc_state(init_docs, state)
    # init's own rewrite equals the standalone op on the init corpus
    exp_init = {tuple(r) for r in dedup.cdc_span_dedup(init_docs).collect()}
    assert {tuple(r) for r in init_rw.collect()} == exp_init
    got = {tuple(r) for r in dedup.ingest_cdc_batch(batch, state).collect()}
    exp = {
        tuple(r)
        for r in dedup.cdc_span_dedup(all_docs).filter("doc_id >= 10").collect()
    }
    assert got == exp


def test_cdc_ingest_sequential_batches_compose(spark, tmp_path):
    rows = _dup_heavy_rows(5, range(30))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(all_docs.filter("doc_id < 10"), state)
    got1 = dedup.ingest_cdc_batch(
        all_docs.filter("doc_id >= 10 and doc_id < 20"), state
    ).collect()
    got2 = dedup.ingest_cdc_batch(all_docs.filter("doc_id >= 20"), state).collect()
    exp = {
        tuple(r)
        for r in dedup.cdc_span_dedup(all_docs).filter("doc_id >= 10").collect()
    }
    assert {tuple(r) for r in got1 + got2} == exp


def test_cdc_ingest_retry_is_idempotent(spark, tmp_path):
    """Second call with the same batch takes the already-applied path:
    identical rewrite, no new ledger generations."""
    rows = _dup_heavy_rows(7, range(20))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(all_docs.filter("doc_id < 10"), state)
    batch = all_docs.filter("doc_id >= 10")
    first = {tuple(r) for r in dedup.ingest_cdc_batch(batch, state).collect()}
    ledger_rows = spark.read.parquet(dedup._cdc_ledger_path(state)).count()
    second = {tuple(r) for r in dedup.ingest_cdc_batch(batch, state).collect()}
    assert second == first
    assert spark.read.parquet(dedup._cdc_ledger_path(state)).count() == ledger_rows


def test_cdc_ingest_crash_orphans_are_shadowed(spark, tmp_path):
    """A crashed attempt's partial ledger append (stamp present in rows,
    absent from the commit ledger) must not change the retry's rewrite:
    uncommitted orphans are filtered on read."""
    rows = _dup_heavy_rows(9, range(20))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(all_docs.filter("doc_id < 10"), state)
    batch = all_docs.filter("doc_id >= 10")
    stamp = "cdc-" + dedup._batch_stamp(batch)
    # simulate the crash: a partial append lands SOME of the batch's novel
    # hashes (and even a junk hash) tagged with the stamp, but the stamp
    # never reaches the commit ledger (debris lands in the bucketed v2
    # layout, exactly as a torn partitioned append would leave it)
    pfx = "deadbeef"[: dedup._cdc_pfx_len(state)]
    spark.createDataFrame(
        [("deadbeefdeadbeefdeadbeefdeadbeef", 1, stamp, pfx)],
        "chunk_hash string, batch_seq long, batch_stamp string, pfx string",
    ).write.mode("append").partitionBy("pfx").parquet(
        dedup._cdc_ledger_path(state))
    got = {tuple(r) for r in dedup.ingest_cdc_batch(batch, state).collect()}
    exp = {
        tuple(r)
        for r in dedup.cdc_span_dedup(all_docs).filter("doc_id >= 10").collect()
    }
    assert got == exp


def test_cdc_compaction_drops_orphans_preserves_retry(spark, tmp_path):
    """compact_cdc_state removes uncommitted orphans and duplicate rows
    but preserves stamp attribution, so (a) a crashed batch retried
    AFTER compaction is a clean fresh apply, and (b) a committed batch
    retried after compaction still reconstructs its pre-batch view and
    recomputes the identical rewrite."""
    rows = _dup_heavy_rows(21, range(30))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(all_docs.filter("doc_id < 10"), state)
    b1 = all_docs.filter("doc_id >= 10 and doc_id < 20")
    b2 = all_docs.filter("doc_id >= 20")
    got1 = {tuple(r) for r in dedup.ingest_cdc_batch(b1, state).collect()}
    # crash simulation for b2: orphan rows land, stamp never commits
    stamp2 = "cdc-" + dedup._batch_stamp(b2)
    pfx = "feedface"[: dedup._cdc_pfx_len(state)]
    spark.createDataFrame(
        [("feedfacefeedfacefeedfacefeedface", 9, stamp2, pfx)],
        "chunk_hash string, batch_seq long, batch_stamp string, pfx string",
    ).write.mode("append").partitionBy("pfx").parquet(
        dedup._cdc_ledger_path(state))
    info = dedup.compact_cdc_state(spark, state)
    assert info["rows_after"] < info["rows_before"]  # orphan dropped
    ledger = spark.read.parquet(dedup._cdc_ledger_path(state))
    assert ledger.filter(f"batch_stamp = '{stamp2}'").count() == 0
    # (a) crashed b2 retried post-compaction: clean fresh apply
    got2 = {tuple(r) for r in dedup.ingest_cdc_batch(b2, state).collect()}
    exp = {
        tuple(r)
        for r in dedup.cdc_span_dedup(all_docs).filter("doc_id >= 10").collect()
    }
    assert got1 | got2 == exp
    # (b) committed b1 retried post-compaction: identical rewrite
    dedup.compact_cdc_state(spark, state)
    again = {tuple(r) for r in dedup.ingest_cdc_batch(b1, state).collect()}
    assert again == got1


def test_decontaminate_spans_cuts_planted_contamination(spark):
    """A benchmark span pasted mid-document (at an arbitrary offset) is
    removed from the corpus doc while the rest of the text survives; a
    clean document is untouched."""
    rng = np.random.default_rng(31)
    words = [f"w{i}" for i in range(400)]
    bench_text = " ".join(rng.choice(words, size=48, replace=False))
    pre = " ".join(f"p{i}" for i in range(7))
    post = " ".join(f"q{i}" for i in range(9))
    dirty = f"{pre} {bench_text} {post}"
    clean = " ".join(rng.choice(words, size=40, replace=False))
    corpus = _mk_docs(spark, [(100, dirty), (101, clean)])
    bench = _mk_docs(spark, [(1, bench_text)])
    out = {
        r["doc_id"]: r
        for r in dedup.decontaminate_spans(corpus, bench).collect()
    }
    # the clean doc is fully intact
    assert out[101]["n_kept"] == out[101]["n_chunks"]
    assert out[101]["clean_text"] == clean.lower()
    # the dirty doc lost most of the pasted span (interior chunks hash
    # identically despite the 7-token offset); its own pre/post text can
    # survive only as splice-boundary chunks
    assert out[100]["clean_n_tokens"] < 7 + 9 + 48 // 2
    kept_text = out[100]["clean_text"]
    assert "p0" in kept_text  # own prefix text survives
    # and no surviving chunk equals a benchmark chunk
    bench_chunks = {
        r["chunk_text"] for r in dedup.cdc_chunks(bench).collect()
    }
    kept_chunks = {
        r["chunk_text"]
        for r in dedup.cdc_chunks(corpus).join(
            dedup.cdc_chunks(bench).select("chunk_hash").distinct(),
            "chunk_hash", "left_anti").filter("doc_id = 100").collect()
    }
    assert not (kept_chunks & bench_chunks)


def test_audit_cdc_ledger_flags_debris(spark, tmp_path):
    """The audit shows crash debris for what it is: uncommitted orphan
    generations report committed=False, duplicate rows inside a
    committed generation show n_rows > n_distinct_hashes, and after
    compact_cdc_state the report is clean."""
    rows = _dup_heavy_rows(41, range(12))
    docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(docs.filter("doc_id < 8"), state)
    batch = docs.filter("doc_id >= 8")
    dedup.ingest_cdc_batch(batch, state)
    stamp = "cdc-" + dedup._batch_stamp(batch)
    # duplicate row inside the COMMITTED batch generation + an orphan
    real = spark.read.parquet(dedup._cdc_ledger_path(state)).filter(
        f"batch_stamp = '{stamp}'").limit(1).localCheckpoint(eager=True)
    real.write.mode("append").partitionBy("pfx").parquet(
        dedup._cdc_ledger_path(state))
    pfx = "0badc0de"[: dedup._cdc_pfx_len(state)]
    spark.createDataFrame(
        [("0badc0de0badc0de0badc0de0badc0de", 7, "cdc-never-committed", pfx)],
        "chunk_hash string, batch_seq long, batch_stamp string, pfx string",
    ).write.mode("append").partitionBy("pfx").parquet(
        dedup._cdc_ledger_path(state))
    rep = {r["batch_seq"]: r for r in dedup.audit_cdc_ledger(spark, state).collect()}
    assert rep[7]["committed"] is False
    assert rep[1]["n_rows"] == rep[1]["n_distinct_hashes"] + 1
    assert rep[0]["committed"] is True
    dedup.compact_cdc_state(spark, state)
    clean = dedup.audit_cdc_ledger(spark, state).collect()
    assert all(r["committed"] for r in clean)
    assert all(r["n_rows"] == r["n_distinct_hashes"] for r in clean)


def test_cdc_ledger_v2_probe_reads_only_candidate_prefixes(spark, tmp_path):
    """The v2 probe's scale contract: only ledger partitions of
    bloom-candidate prefixes are read.  The candidate prefix set is a
    subset of the batch's prefixes, the pruned ledger scan's input
    files all live under those pfx= directories, and the hit set is
    EXACTLY the batch∩ledger intersection (blooms add false positives
    only, which the real ledger probe then removes)."""
    rows = _dup_heavy_rows(55, range(40))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    path = dedup._cdc_ledger_path(state)
    dedup.init_cdc_state(all_docs.filter("doc_id < 20"), state)
    batch = all_docs.filter("doc_id >= 20")
    stamp = "cdc-" + dedup._batch_stamp(batch)
    ch = dedup.cdc_chunks(batch)
    batch_firsts = (
        ch.groupBy("chunk_hash")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("first_at"))
        .select(
            "chunk_hash",
            F.col("first_at.doc_id").alias("doc_id"),
            F.col("first_at.chunk_idx").alias("chunk_idx"),
        )
        .localCheckpoint(eager=True)
    )
    hits, cand_pfxs = dedup._cdc_ledger_hits(
        spark, state, path, stamp, batch_firsts
    )
    assert cand_pfxs is not None  # v2 layout detected
    batch_pfxs = {
        r["pfx"]
        for r in batch_firsts.select(
            F.substring("chunk_hash", 1, dedup._cdc_pfx_len(state))
            .alias("pfx")
        ).distinct().collect()
    }
    assert set(cand_pfxs) <= batch_pfxs
    # the pruned read (as the probe builds it) touches ONLY those dirs:
    # input_file_name() is execution-time, so it reflects the files the
    # pruned scan actually read (inputFiles() lists pre-pruning)
    pruned = spark.read.parquet(path).filter(F.col("pfx").isin(cand_pfxs))
    read_files = [
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert read_files
    for f in read_files:
        assert any(f"pfx={p}/" in f for p in cand_pfxs), f
    from dask_patternsearch_spark.plans import summarize as _summ
    assert any("pfx" in pf for pf in _summ(pruned)["partition_filters"])
    # and correctness: hits == exact batch∩committed-ledger intersection
    exact = {
        r["chunk_hash"]
        for r in spark.read.parquet(path)
        .join(batch_firsts.select("chunk_hash").distinct(), "chunk_hash")
        .select("chunk_hash").distinct().collect()
    }
    assert {r["chunk_hash"] for r in hits.collect()} == exact


def test_cdc_bloom_superset_invariant_across_batches(spark, tmp_path):
    """Every committed ledger hash must pass the bloom probe (no false
    negatives -- a miss would let a duplicated span survive), after any
    number of delta appends AND after compaction collapses the rows."""
    rows = _dup_heavy_rows(56, range(36))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(all_docs.filter("doc_id < 12"), state)
    dedup.ingest_cdc_batch(
        all_docs.filter("doc_id >= 12 and doc_id < 24"), state)
    dedup.ingest_cdc_batch(all_docs.filter("doc_id >= 24"), state)

    def assert_superset():
        led = spark.read.parquet(
            dedup._cdc_ledger_path(state)).select("chunk_hash").distinct()
        n = led.count()
        cands = dedup._bloom_candidates(spark, state, led)
        assert cands.count() == n

    assert_superset()
    n_bloom_rows_before = spark.read.parquet(
        dedup._cdc_bloom_dir(state)).count()
    dedup.compact_cdc_state(spark, state)
    assert_superset()
    # compaction collapsed the delta rows to one per prefix
    blooms = spark.read.parquet(dedup._cdc_bloom_dir(state))
    assert blooms.count() <= n_bloom_rows_before
    assert blooms.groupBy("pfx").count().filter("count > 1").count() == 0


def test_cdc_bloom_prunes_absent_hashes(spark, tmp_path):
    """A fully-novel batch should probe (almost) nothing: hashes absent
    from the ledger pass the bloom at ~the configured false-positive
    rate, so the candidate set is a small fraction of the batch."""
    rows = _dup_heavy_rows(57, range(10))
    state = str(tmp_path / "state")
    dedup.init_cdc_state(_mk_docs(spark, rows), state)
    # 2000 hashes that are NOT in the ledger (md5 of fresh strings)
    absent = spark.range(2000).select(
        F.md5(F.concat(F.lit("absent-"), F.col("id"))).alias("chunk_hash")
    )
    cands = dedup._bloom_candidates(spark, state, absent)
    # fpp ~5e-4 at 16 bits/key, k=8; allow 50x headroom -> <2.5% pass
    assert cands.count() <= 50


# ---------------------------------------------------------------------------
# MinHash band-bucket sidecar (round 11)


def _near_dup_rows(seed, n):
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(80)]
    rows = []
    for i in range(n):
        toks = list(rng.choice(words, size=24))
        rows.append((i, " ".join(toks)))
        if i % 4 == 0 and i + 1 < n:  # plant a near-dup of i at i+1... via text reuse
            mut = list(toks)
            mut[0] = str(rng.choice(words))
            rows.append((i + n, " ".join(mut)))
    return rows


def test_incremental_candidates_equal_with_and_without_sidecar(spark, tmp_path):
    """The band sidecar is a pure precompute: the incremental candidate
    set must be identical whether the corpus bands come from the sidecar
    or are re-derived from the signature table."""
    docs = _mk_docs(spark, _near_dup_rows(5, 40))
    sig_path = str(tmp_path / "sigs.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")
    dedup.minhash_lsh_candidates(corpus, persist_signatures=sig_path).collect()
    assert dedup._bands_sidecar_usable(sig_path, 8, 8)
    with_sidecar = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            batch, sig_path, append=False).collect()
    }
    # invalidate the sidecar -> derivation fallback
    import os
    os.unlink(dedup._bands_meta_path(sig_path))
    without = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            batch, sig_path, append=False).collect()
    }
    assert with_sidecar == without


def test_band_sidecar_ghost_rows_are_harmless(spark, tmp_path):
    """Crash window: band rows appended, signature append never landed.
    The ghost doc's pairs must vanish (inner annotation join), leaving
    the candidate set identical to the clean state."""
    docs = _mk_docs(spark, _near_dup_rows(7, 40))
    sig_path = str(tmp_path / "sigs.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")
    dedup.minhash_lsh_candidates(corpus, persist_signatures=sig_path).collect()
    clean = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            batch, sig_path, append=False).collect()
    }
    # plant ghost band rows: copy an existing doc's buckets under a doc id
    # that has NO signature row (guaranteed collisions with real buckets)
    bands = spark.read.parquet(dedup._bands_sidecar_path(sig_path))
    ghost = bands.limit(8).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "band", "bucket")
    ghost.write.mode("append").parquet(dedup._bands_sidecar_path(sig_path))
    dirty = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            batch, sig_path, append=False).collect()
    }
    assert dirty == clean


def test_band_sidecar_mismatched_banding_falls_back(spark, tmp_path):
    """A sidecar built at n_bands=8 must not serve an n_bands=4 probe:
    the meta mismatch routes the probe to derivation, and results match
    a sidecar-free table at n_bands=4."""
    docs = _mk_docs(spark, _near_dup_rows(9, 40))
    sig_path = str(tmp_path / "sigs.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")
    dedup.minhash_lsh_candidates(corpus, persist_signatures=sig_path).collect()
    assert not dedup._bands_sidecar_usable(sig_path, 4, 16)
    got = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            batch, sig_path, n_bands=4, append=False).collect()
    }
    import os
    os.unlink(dedup._bands_meta_path(sig_path))
    exp = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            batch, sig_path, n_bands=4, append=False).collect()
    }
    assert got == exp


def test_band_sidecar_appends_and_rebuild(spark, tmp_path):
    """ingest appends keep the sidecar complete (probe after two appends
    equals a from-scratch probe), and rebuild_band_sidecar restores a
    deleted sidecar bit-identically."""
    docs = _mk_docs(spark, _near_dup_rows(11, 60))
    sig_path = str(tmp_path / "sigs.parquet")
    dedup.minhash_lsh_candidates(
        docs.filter("doc_id % 3 = 0"), persist_signatures=sig_path).collect()
    dedup.incremental_minhash_candidates(
        docs.filter("doc_id % 3 = 1"), sig_path, append=True).collect()
    dedup.incremental_minhash_candidates(
        docs.filter("doc_id % 3 = 2"), sig_path, append=True).collect()
    sidecar = spark.read.parquet(dedup._bands_sidecar_path(sig_path))
    sigs = spark.read.parquet(sig_path)
    # completeness: every persisted signature has its 8 band rows
    assert (sidecar.select("doc_id").distinct().count()
            == sigs.select("doc_id").distinct().count())
    before = {tuple(r) for r in sidecar.collect()}
    import shutil
    shutil.rmtree(dedup._bands_sidecar_path(sig_path))
    dedup.rebuild_band_sidecar(spark, sig_path)
    after = {
        tuple(r) for r in spark.read.parquet(
            dedup._bands_sidecar_path(sig_path)).collect()
    }
    assert after == before


def test_band_sidecar_is_bucketed_and_probe_prunes(spark, tmp_path):
    """Round-12 layout: the band sidecar is partitioned by ``bpfx=``
    (width self-described by the dir names), and the incremental probe's
    corpus-side read is restricted to the batch buckets' prefixes --
    partition pruning shows up in the plan, and every surviving row's
    bucket maps into the batch's prefix set."""
    import os

    docs = _mk_docs(spark, _near_dup_rows(5, 60))
    sig_path = str(tmp_path / "sigs.parquet")
    dedup.minhash_lsh_candidates(
        docs.filter("doc_id % 2 = 0"), persist_signatures=sig_path).collect()
    sidecar = dedup._bands_sidecar_path(sig_path)
    width = dedup._layout_pfx_len(sidecar, key="bpfx")
    assert width == 1  # tiny corpus -> 16-dir tier
    assert [e for e in os.listdir(sidecar) if e.startswith("bpfx=")]
    one = (spark.read.parquet(sidecar).select("band", "bucket")
           .orderBy("bucket").limit(1).localCheckpoint(eager=True))
    want = {r[0] for r in one.select(
        dedup._bands_bpfx_expr(width).alias("p")).collect()}
    pruned = dedup._read_band_sidecar(spark, sig_path, one)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bpfx" in plan
    got_pfx = {r[0] for r in pruned.select(
        dedup._bands_bpfx_expr(width).alias("p")).distinct().collect()}
    assert got_pfx <= want and pruned.count() > 0
    assert "bpfx" not in pruned.columns  # layout column never leaks out


def test_band_sidecar_legacy_flat_layout_still_works(spark, tmp_path):
    """A round-11 FLAT sidecar (no bpfx dirs) keeps working end to end:
    the probe full-scans it, appends stay flat (the layout never forks),
    and candidates equal the derivation fallback."""
    import shutil

    docs = _mk_docs(spark, _near_dup_rows(13, 60))
    sig_path = str(tmp_path / "sigs.parquet")
    dedup.minhash_lsh_candidates(
        docs.filter("doc_id % 3 = 0"), persist_signatures=sig_path).collect()
    sidecar = dedup._bands_sidecar_path(sig_path)
    # rewrite the sidecar in the legacy flat layout (the rmtree also
    # removes the in-dir meta stamp -- restore it to match)
    sigs = dedup.load_signatures(spark, sig_path)
    flat = dedup._band_buckets(sigs, 8, 8).localCheckpoint(eager=True)
    shutil.rmtree(sidecar)
    flat.write.parquet(sidecar)
    dedup._write_bands_meta(sig_path, 8, 8)
    assert dedup._bands_sidecar_usable(sig_path, 8, 8)
    assert dedup._layout_pfx_len(sidecar, key="bpfx") is None
    got = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            docs.filter("doc_id % 3 = 1"), sig_path, append=True).collect()
    }
    # append followed the flat layout -- still no bpfx dirs
    assert dedup._layout_pfx_len(sidecar, key="bpfx") is None
    import os
    os.unlink(dedup._bands_meta_path(sig_path))  # force derivation
    exp = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            docs.filter("doc_id % 3 = 1"), sig_path, append=False).collect()
    }
    assert got == exp


def test_read_bucketed_pruned_pins_string_and_avoids_in_bloat(spark, tmp_path):
    """The shared pruned reader: (a) all-numeric partition dirs still
    read back as STRINGS with leading zeros (inference would parse hex
    dir names as decimal ints and break every prefix comparison);
    (b) past _PFX_ISIN_MAX prefixes the literal IN is replaced by an
    explicit subdir listing -- no multi-thousand-literal IN in the plan,
    missing dirs tolerated; (c) an empty prefix set short-circuits."""
    path = str(tmp_path / "bucketed")
    rows = [(f"h{i:03d}", f"{i % 50:02d}") for i in range(300)]
    spark.createDataFrame(rows, "k string, pfx string").write.partitionBy(
        "pfx").parquet(path)
    sch = "k string, pfx string"
    # (a) small prefix set: pushed isin, strings with leading zeros
    few = dedup._read_bucketed_pruned(spark, path, "pfx", ["07", "09"], sch)
    assert {r["pfx"] for r in few.collect()} == {"07", "09"}
    assert few.schema["pfx"].dataType.simpleString() == "string"
    plan = few._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pfx" in plan
    # (b) many prefixes (incl. 30 that do not exist on disk): subdir
    # listing, correct rows, and only requested dirs are read
    many = [f"{i:02d}" for i in range(80)]
    assert len(many) > dedup._PFX_ISIN_MAX
    got = dedup._read_bucketed_pruned(spark, path, "pfx", many, sch)
    assert {r["pfx"] for r in got.collect()} == {f"{i:02d}" for i in range(50)}
    for f in got.inputFiles():
        assert "/pfx=" in f and f.split("/pfx=")[1].split("/")[0] in many
    # (c) empty set -> empty relation with the right schema
    empty = dedup._read_bucketed_pruned(spark, path, "pfx", [], sch)
    assert empty.count() == 0
    assert empty.schema["pfx"].dataType.simpleString() == "string"


def test_cdc_many_prefix_batch_composes(spark, tmp_path, monkeypatch):
    """A wide-prefix batch (more candidate prefixes than _PFX_ISIN_MAX at
    a 256-dir layout) takes the subdir-listing probe and still composes
    exactly with the one-shot span dedup."""
    monkeypatch.setattr(dedup, "_pick_pfx_len", lambda n: 2)
    rows = _dup_heavy_rows(11, range(60), n_words=60, vocab=400)
    init_docs = _mk_docs(spark, rows)
    # the batch is a full COPY of the init corpus (re-id'd): every batch
    # chunk is a ledger duplicate, so candidate prefixes span most of the
    # 256-dir layout -- far past the isin threshold
    batch = _mk_docs(spark, [(i + 10_000, t) for i, t in rows])
    all_docs = init_docs.unionByName(batch)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(init_docs, state)
    assert dedup._cdc_pfx_len(state) == 2
    # sanity: this batch's duplicate chunks span more prefixes than the
    # isin threshold, so the subdir-listing branch is exercised
    hits, cand_pfxs = dedup._cdc_ledger_hits(
        spark, state, dedup._cdc_ledger_path(state),
        "cdc-" + dedup._batch_stamp(batch),
        dedup.cdc_chunks(batch).select("chunk_hash").distinct()
        .withColumn("doc_id", F.lit(0)).withColumn("chunk_idx", F.lit(0)),
    )
    assert cand_pfxs is not None and len(cand_pfxs) > dedup._PFX_ISIN_MAX
    got = {tuple(r) for r in dedup.ingest_cdc_batch(batch, state).collect()}
    exp = {
        tuple(r)
        for r in dedup.cdc_span_dedup(all_docs)
        .filter("doc_id >= 10000").collect()
    }
    assert got == exp


def test_cdc_swap_crash_heals_on_next_ingest(spark, tmp_path):
    """Planted crash in compact_cdc_state's window (ledger renamed to
    the .old sibling, new layout never swapped in): the next ingest
    self-heals under the state lock -- restores the newest .old sibling,
    drops the orphaned .compact temp -- and produces the same resolved
    state as the never-crashed run (round-11 verdict hardening #1)."""
    import os
    import shutil

    rows = _dup_heavy_rows(17, range(30))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    control = str(tmp_path / "control")
    for s in (state, control):
        dedup.init_cdc_state(all_docs.filter("doc_id < 10"), s)
        dedup.ingest_cdc_batch(
            all_docs.filter("doc_id >= 10 and doc_id < 20"), s)
    # plant the crash: rename done, swap-in never happened
    path = dedup._cdc_ledger_path(state)
    bdir = dedup._cdc_bloom_dir(state)
    os.rename(path, path + ".old-deadbeef")
    os.makedirs(path + ".compact-feedface")
    os.rename(bdir, bdir + ".old-deadbeef")
    got = {
        tuple(r)
        for r in dedup.ingest_cdc_batch(
            all_docs.filter("doc_id >= 20"), state).collect()
    }
    exp = {
        tuple(r)
        for r in dedup.ingest_cdc_batch(
            all_docs.filter("doc_id >= 20"), control).collect()
    }
    assert got == exp
    # debris gone, live dirs restored
    assert os.path.exists(path) and os.path.exists(bdir)
    assert not os.path.exists(path + ".old-deadbeef")
    assert not os.path.exists(path + ".compact-feedface")
    assert not os.path.exists(bdir + ".old-deadbeef")
    # ledgers of the two states resolve identically
    led = lambda s: {
        r["chunk_hash"]
        for r in spark.read.parquet(dedup._cdc_ledger_path(s))
        .select("chunk_hash").distinct().collect()
    }
    assert led(state) == led(control)
    shutil.rmtree(state)
    shutil.rmtree(control)


def test_cdc_swap_crash_heals_on_compaction_retry(spark, tmp_path):
    """Same planted crash, healed by retrying compact_cdc_state itself:
    the retry restores the stranded ledger, recompacts it, and the
    resolved hash set is unchanged."""
    import os

    rows = _dup_heavy_rows(19, range(20))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(all_docs.filter("doc_id < 10"), state)
    dedup.ingest_cdc_batch(all_docs.filter("doc_id >= 10"), state)
    path = dedup._cdc_ledger_path(state)
    before = {
        r["chunk_hash"]
        for r in spark.read.parquet(path).select("chunk_hash")
        .distinct().collect()
    }
    os.rename(path, path + ".old-cafe")
    stats = dedup.compact_cdc_state(spark, state)
    assert stats["rows_after"] <= stats["rows_before"]
    after = {
        r["chunk_hash"]
        for r in spark.read.parquet(path).select("chunk_hash")
        .distinct().collect()
    }
    assert after == before
    assert not os.path.exists(path + ".old-cafe")


def test_keeper_log_swap_crash_heals_on_next_ingest(spark, tmp_path):
    """A keeper log that crashed under the fixed sibling name used
    before ``swap_dir`` (__compact_old present, live log missing) still
    heals on the next ingest_batch, with resolution identical to a
    control state."""
    import os

    docs = _mk_docs(spark, _near_dup_rows(23, 40))
    state = str(tmp_path / "state")
    control = str(tmp_path / "control")
    for s in (state, control):
        dedup.init_dedup_state(docs.filter("doc_id % 2 = 0"), s,
                               quality_col="doc_id")
    _sig, lab_path, keep_path = dedup._delta_dirs(state)
    os.rename(keep_path, keep_path + "__compact_old")
    batch = docs.filter("doc_id % 2 = 1").withColumn(
        "n_chars", F.length("text"))
    for s in (state, control):
        dedup.ingest_batch(batch, s, quality_col="doc_id")
    assert not os.path.exists(keep_path + "__compact_old")
    resolved = lambda s: tuple(
        sorted(tuple(r) for r in v.collect())
        for v in dedup.load_cluster_state(spark, s)
    )
    assert resolved(state) == resolved(control)


def test_maybe_compact_cdc_bloom_and_rebucket_triggers(spark, tmp_path,
                                                       monkeypatch):
    """The CDC maintenance trigger (round-12): fires on bloom
    rows-per-prefix past the gate, on re-bucket pressure when the corpus
    outgrows its prefix tier, and stays quiet on a healthy state; ingest
    composes identically across a triggered compaction."""
    rows = _dup_heavy_rows(29, range(60))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(all_docs.filter("doc_id < 10"), state)
    # healthy small state: no trigger at default gates
    assert dedup.maybe_compact_cdc_state(spark, state) is None
    # five more ingests -> most prefixes carry ~6 bloom delta rows
    for b in range(5):
        dedup.ingest_cdc_batch(
            all_docs.filter(f"doc_id >= {10 * (b + 1)} and "
                            f"doc_id < {10 * (b + 2)}"), state)
    stats = dedup.maybe_compact_cdc_state(spark, state,
                                          max_bloom_rows_per_pfx=3)
    assert stats is not None and stats["trigger"] == "bloom_rows_per_pfx"
    # compaction collapsed the deltas: quiet again at the same gate
    assert dedup.maybe_compact_cdc_state(
        spark, state, max_bloom_rows_per_pfx=3) is None
    # re-bucket pressure: the corpus' tier outgrows the layout width
    monkeypatch.setattr(dedup, "_pick_pfx_len", lambda n: 2)
    stats = dedup.maybe_compact_cdc_state(spark, state)
    assert stats is not None and stats["trigger"] == "rebucket"
    assert dedup._cdc_pfx_len(state) == 2
    assert dedup.maybe_compact_cdc_state(spark, state) is None
    monkeypatch.undo()


def test_maybe_compact_cdc_orphan_trigger(spark, tmp_path):
    """Orphan mass (uncommitted crash debris) past the ratio+floor gates
    triggers compaction, which physically drops it."""
    rows = _dup_heavy_rows(31, range(20))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(all_docs.filter("doc_id < 10"), state)
    path = dedup._cdc_ledger_path(state)
    # plant orphans: rows under a stamp the commit ledger never saw
    pfx_len = dedup._cdc_pfx_len(state)
    orphans = (
        dedup.cdc_chunks(all_docs.filter("doc_id >= 10"))
        .select("chunk_hash").distinct()
        .withColumn("batch_seq", F.lit(9).cast("long"))
        .withColumn("batch_stamp", F.lit("cdc-never-committed"))
        .withColumn("pfx", F.substring("chunk_hash", 1, pfx_len))
    )
    orphans.write.mode("append").partitionBy("pfx").parquet(path)
    before = spark.read.parquet(path).count()
    # floor keeps tiny debris out of the maintenance path
    assert dedup.maybe_compact_cdc_state(
        spark, state, orphan_ratio=0.1, min_orphan_rows=10**9) is None
    stats = dedup.maybe_compact_cdc_state(
        spark, state, orphan_ratio=0.1, min_orphan_rows=1)
    assert stats is not None and stats["trigger"] == "orphan_mass"
    assert stats["rows_after"] < before
    led = spark.read.parquet(path)
    assert led.filter("batch_stamp = 'cdc-never-committed'").count() == 0


def test_bloom_residency_cache_reads_deltas_only(spark, tmp_path,
                                                 monkeypatch):
    """Round-13 (round-12 verdict #2): the bloom sidecar's bits are
    process-resident across probes -- an unchanged dir re-reads ZERO
    bloom files, an append re-reads only its delta files, a rebuild
    (all file paths change) reloads once -- and the resident probe's
    survivors are identical to the distributed cogroup path's."""
    import os
    import shutil

    bdir = str(tmp_path / "bloom")
    mk_keys = lambda lo, hi: spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("k"))
    dedup._bloom_rows(mk_keys(0, 200), 1, col="k").write.mode(
        "append").partitionBy("pfx").parquet(bdir)
    reads = []
    orig_read = dedup._bloom_read_rows
    monkeypatch.setattr(
        dedup, "_bloom_read_rows",
        lambda f: (reads.append(f), orig_read(f))[1])
    dedup._BLOOM_RESIDENT.pop(bdir, None)
    probe_keys = mk_keys(150, 260).localCheckpoint(eager=True)

    def survivors():
        return {r["k"] for r in dedup._bloom_filter_keys(
            spark, bdir, probe_keys, 1, "k").collect()}

    got1 = survivors()
    n_files = len(dedup._bloom_list_files(bdir))
    assert len(reads) == n_files > 0  # first contact: full load
    # no false negatives: every present key survives
    present = {r["k"] for r in mk_keys(150, 200).collect()}
    assert present <= got1
    # unchanged dir: zero bloom files re-read
    assert survivors() == got1
    assert len(reads) == n_files
    # append: only the delta files are read
    dedup._bloom_rows(mk_keys(200, 230), 1, col="k").write.mode(
        "append").partitionBy("pfx").parquet(bdir)
    n_files2 = len(dedup._bloom_list_files(bdir))
    got2 = survivors()
    assert len(reads) == n_files2  # old files NOT re-read
    assert {r["k"] for r in mk_keys(150, 230).collect()} <= got2
    # parity across the two fallback paths on the same dir/keys:
    # resident disengaged -> worker-grouped probe (round-13 executor
    # residency); listing also unavailable -> distributed cogroup scan
    monkeypatch.setattr(dedup, "_bloom_resident_bits", lambda b: None)
    got_worker = survivors()
    assert got_worker == got2
    real_list = dedup._bloom_list_files
    monkeypatch.setattr(dedup, "_bloom_list_files", lambda b: None)
    got_cg = survivors()
    assert got_cg == got2
    monkeypatch.setattr(dedup, "_bloom_list_files", real_list)
    # rebuild (atomic swap: every file path changes): one full reload
    monkeypatch.undo()
    monkeypatch.setattr(
        dedup, "_bloom_read_rows",
        lambda f: (reads.append(f), orig_read(f))[1])
    tmp2 = bdir + ".build"
    dedup._bloom_rows(mk_keys(0, 230), 1, col="k").write.mode(
        "errorifexists").partitionBy("pfx").parquet(tmp2)
    shutil.rmtree(bdir)
    os.rename(tmp2, bdir)
    reads.clear()
    got3 = survivors()
    assert len(reads) == len(dedup._bloom_list_files(bdir))
    assert {r["k"] for r in mk_keys(150, 230).collect()} <= got3


def test_bloom_residency_reconciles_per_prefix(spark, tmp_path,
                                               monkeypatch):
    """Round-14 (round-13 verdict #6): after a delta-preserving rebuild
    -- some prefixes' files replaced, the rest untouched -- the driver
    residency cache re-reads ONLY the changed prefixes' files instead
    of reloading the whole sidecar, and the served bits are unchanged
    for untouched prefixes."""
    import os

    bdir = str(tmp_path / "bloom")
    keys = spark.range(0, 200).select(
        F.md5(F.col("id").cast("string")).alias("k"))
    dedup._bloom_rows(keys, 1, col="k").write.mode(
        "append").partitionBy("pfx").parquet(bdir)
    dedup._BLOOM_RESIDENT.pop(bdir, None)
    bits1 = dedup._bloom_resident_bits(bdir)
    assert bits1 and len(bits1) >= 4
    reads = []
    orig_read = dedup._bloom_read_rows
    monkeypatch.setattr(
        dedup, "_bloom_read_rows",
        lambda f: (reads.append(f), orig_read(f))[1])
    # simulate one prefix's collapse: its file moves to a new path
    # (byte-identical here; the cache keys on paths, as the rebuild does)
    some_pfx = sorted(bits1)[0]
    pdir = os.path.join(bdir, f"pfx={some_pfx}")
    moved = 0
    for fn in sorted(os.listdir(pdir)):
        if fn.endswith(".parquet"):
            os.rename(os.path.join(pdir, fn),
                      os.path.join(pdir, f"rebuilt-{fn}"))
            moved += 1
    assert moved >= 1
    bits2 = dedup._bloom_resident_bits(bdir)
    assert len(reads) == moved, "only the changed prefix's files re-read"
    for pfx, rows in bits1.items():
        if pfx != some_pfx:
            assert bits2[pfx] == rows, "untouched prefix bits unchanged"
    assert sorted(bits2[some_pfx]) == sorted(bits1[some_pfx])


def test_worker_bloom_cache_lru_and_budget(spark, tmp_path, monkeypatch):
    """Round-13 executor-side residency: the worker-process file cache
    serves repeat probes with zero physical reads, evicts
    least-recently-used entries under the byte budget, and serves an
    over-budget file uncached instead of thrashing the LRU."""
    bdir = str(tmp_path / "bloom")
    keys = spark.range(0, 300).select(
        F.md5(F.col("id").cast("string")).alias("k"))
    dedup._bloom_rows(keys, 1, col="k").write.mode(
        "append").partitionBy("pfx").parquet(bdir)
    paths = sorted(dedup._bloom_list_files(bdir))
    assert len(paths) >= 4
    reads = []
    orig_read = dedup._bloom_read_rows
    monkeypatch.setattr(
        dedup, "_bloom_read_rows",
        lambda f: (reads.append(f), orig_read(f))[1])
    dedup._WORKER_BLOOM_CACHE.clear()
    dedup._WORKER_BLOOM_CACHE_BYTES[0] = 0
    rows1 = dedup._worker_bloom_rows(paths)
    assert len(reads) == len(paths) and len(rows1) == len(paths)
    rows2 = dedup._worker_bloom_rows(paths)  # all cached: no reads
    assert len(reads) == len(paths) and rows2 == rows1
    assert dedup._WORKER_BLOOM_CACHE_BYTES[0] == sum(
        n for n, _r in dedup._WORKER_BLOOM_CACHE.values())
    # budget fits exactly one entry: LRU keeps only the last-served path
    per = max(n for n, _r in dedup._WORKER_BLOOM_CACHE.values())
    monkeypatch.setattr(dedup, "_WORKER_BLOOM_MAX_BYTES", per)
    dedup._WORKER_BLOOM_CACHE.clear()
    dedup._WORKER_BLOOM_CACHE_BYTES[0] = 0
    reads.clear()
    rows3 = dedup._worker_bloom_rows(paths)
    assert rows3 == rows1 and len(reads) == len(paths)
    assert len(dedup._WORKER_BLOOM_CACHE) <= 1
    assert dedup._WORKER_BLOOM_CACHE_BYTES[0] <= per
    # a single file larger than the whole budget: correct rows, never
    # inserted, existing entries untouched
    monkeypatch.setattr(dedup, "_WORKER_BLOOM_MAX_BYTES", 0)
    dedup._WORKER_BLOOM_CACHE.clear()
    dedup._WORKER_BLOOM_CACHE_BYTES[0] = 0
    reads.clear()
    rows4 = dedup._worker_bloom_rows(paths[:1])
    assert len(rows4) == 1 and len(reads) == 1
    assert not dedup._WORKER_BLOOM_CACHE
    assert dedup._WORKER_BLOOM_CACHE_BYTES[0] == 0


def test_bloom_driver_budget_disengages_to_worker_path(spark, tmp_path,
                                                       monkeypatch):
    """Crossing the DRIVER residency budget itself (not a simulated
    bypass) evicts the resident entry and routes the probe through the
    worker-grouped path with identical survivors."""
    bdir = str(tmp_path / "bloom")
    mk_keys = lambda lo, hi: spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("k"))
    dedup._bloom_rows(mk_keys(0, 200), 1, col="k").write.mode(
        "append").partitionBy("pfx").parquet(bdir)
    probe_keys = mk_keys(150, 260).localCheckpoint(eager=True)

    def survivors():
        return {r["k"] for r in dedup._bloom_filter_keys(
            spark, bdir, probe_keys, 1, "k").collect()}

    dedup._BLOOM_RESIDENT.pop(bdir, None)
    resident = survivors()
    assert bdir in dedup._BLOOM_RESIDENT
    monkeypatch.setattr(dedup, "_BLOOM_RESIDENT_MAX_BYTES", 0)
    dedup._BLOOM_RESIDENT.pop(bdir, None)
    over_budget = survivors()
    assert bdir not in dedup._BLOOM_RESIDENT  # budget kept it out
    assert over_budget == resident
    present = {r["k"] for r in mk_keys(150, 200).collect()}
    assert present <= over_budget


def test_worker_bloom_mid_swap_fails_loud_never_stale(spark, tmp_path,
                                                      monkeypatch):
    """A rebuild that lands between the worker probe's driver-side
    listing and the worker's file read must fail LOUDLY (retryable),
    never serve mixed-generation bits: old bloom rows do not cover the
    new ledger's keys, so healing per-file would admit false
    'definitely absent' verdicts -- silent duplicate loss.  After the
    failure, a fresh probe (fresh listing) succeeds against the new
    files, and a pre-swap cache entry for a deleted path is never
    consulted (the paths map always comes from the current listing)."""
    import os
    import shutil

    import pytest

    bdir = str(tmp_path / "bloom")
    mk_keys = lambda lo, hi: spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("k"))
    dedup._bloom_rows(mk_keys(0, 200), 1, col="k").write.mode(
        "append").partitionBy("pfx").parquet(bdir)
    monkeypatch.setattr(dedup, "_bloom_resident_bits", lambda b: None)
    probe_keys = mk_keys(100, 260).localCheckpoint(eager=True)
    # lazy probe built against the CURRENT listing...
    lazy = dedup._bloom_filter_keys(spark, bdir, probe_keys, 1, "k")
    # ...then the rebuild swap deletes every listed file
    tmp2 = bdir + ".build"
    dedup._bloom_rows(mk_keys(0, 260), 1, col="k").write.mode(
        "errorifexists").partitionBy("pfx").parquet(tmp2)
    shutil.rmtree(bdir)
    os.rename(tmp2, bdir)
    dedup._WORKER_PATHS_BC.pop(bdir, None)  # listing cache: stale entry
    with pytest.raises(Exception):
        lazy.collect()  # loud, not a silent wrong answer
    # a fresh probe re-lists and serves the new generation correctly
    got = {r["k"] for r in dedup._bloom_filter_keys(
        spark, bdir, probe_keys, 1, "k").collect()}
    present = {r["k"] for r in mk_keys(100, 260).collect()}
    assert present <= got


def test_footer_manifest_zero_opens_on_unchanged_dir(spark, tmp_path,
                                                     monkeypatch):
    """Round-14 (round-13 verdict #7): the trigger-side footer walks are
    manifest-gated -- an unchanged dir is served from
    ``_footer_manifest.json`` with ZERO parquet-footer opens, an append
    opens exactly the new files' footers, and the counts always equal
    the direct footer sum."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "state")
    spark.range(100).selectExpr(
        "id", "cast(id % 4 as string) as pfx"
    ).write.partitionBy("pfx").parquet(d)
    assert dedup._footer_row_count(d) == 100  # builds the manifest
    calls = []
    real = pq.ParquetFile
    monkeypatch.setattr(
        pq, "ParquetFile", lambda *a, **k: (calls.append(1), real(*a, **k))[1]
    )
    assert dedup._footer_row_count(d) == 100
    assert calls == [], "unchanged dir must open zero parquet footers"
    # append one file: exactly that footer opens, the rest ride the manifest
    spark.range(7).selectExpr("id", "'9' as pfx").coalesce(1).write.mode(
        "append"
    ).partitionBy("pfx").parquet(d)
    calls.clear()
    assert dedup._footer_row_count(d) == 107
    assert len(calls) == 1
    # the per-prefix max reads the same manifest: zero opens again
    calls.clear()
    assert dedup._footer_rows_per_pfx_max(d) == 25
    assert calls == []


def test_maybe_compact_cdc_footer_gate_skips_ledger_scan(spark, tmp_path,
                                                         monkeypatch):
    """Round-13 (round-12 verdict #1): the CDC maintenance trigger's
    orphan math is footer arithmetic against the recorded per-stamp row
    counts -- the per-micro-batch common path never runs the stamp-grain
    ledger aggregate.  A legacy state (no rows hint) pays that scan
    exactly once, backfilling the hint."""
    import json
    import os

    rows = _dup_heavy_rows(47, range(30))
    all_docs = _mk_docs(spark, rows)
    state = str(tmp_path / "state")
    dedup.init_cdc_state(all_docs.filter("doc_id < 10"), state)
    dedup.ingest_cdc_batch(all_docs.filter("doc_id >= 10 and doc_id < 20"),
                           state)
    # every committed generation recorded its appended row count
    with open(dedup._cdc_rows_path(state)) as fh:
        recorded = json.load(fh)
    assert len(recorded) == 2 and all(n >= 0 for n in recorded.values())
    calls = []
    orig = dedup._cdc_stamp_rows_scan
    monkeypatch.setattr(
        dedup, "_cdc_stamp_rows_scan",
        lambda *a, **k: (calls.append(1), orig(*a, **k))[1])
    # common path: no ledger column scan -- and (round 13) no Spark
    # jobs AT ALL on a locally-listable state dir (footer sums are
    # driver-side pyarrow reads)
    st = spark.sparkContext.statusTracker()
    before_jobs = set(st.getJobIdsForGroup() or [])
    assert dedup.maybe_compact_cdc_state(spark, state) is None
    assert set(st.getJobIdsForGroup() or []) == before_jobs
    assert calls == []
    # planted orphans are visible to the footer math alone
    pfx_len = dedup._cdc_pfx_len(state)
    path = dedup._cdc_ledger_path(state)
    orphans = (
        dedup.cdc_chunks(all_docs.filter("doc_id >= 20"))
        .select("chunk_hash").distinct()
        .withColumn("batch_seq", F.lit(9).cast("long"))
        .withColumn("batch_stamp", F.lit("cdc-never-committed"))
        .withColumn("pfx", F.substring("chunk_hash", 1, pfx_len))
    )
    orphans.write.mode("append").partitionBy("pfx").parquet(path)
    stats = dedup.maybe_compact_cdc_state(
        spark, state, orphan_ratio=0.05, min_orphan_rows=1)
    assert stats is not None and stats["trigger"] == "orphan_mass"
    assert calls == []  # still footer math, even when it fires
    # legacy dir (hint removed): ONE scan, hint backfilled, then quiet
    os.unlink(dedup._cdc_rows_path(state))
    assert dedup.maybe_compact_cdc_state(spark, state) is None
    assert calls == [1]
    assert os.path.exists(dedup._cdc_rows_path(state))
    assert dedup.maybe_compact_cdc_state(spark, state) is None
    assert calls == [1]


def test_band_sidecar_bloom_gates_the_probe(spark, tmp_path):
    """The bloom sidecar decides which batch keys touch the band sidecar
    at all: an all-novel batch reads (almost) nothing, a planted
    duplicate's rows always come back (bloom has no false negatives),
    and removing the bloom degrades to the unpruned-but-correct read."""
    import shutil

    docs = _mk_docs(spark, _near_dup_rows(37, 60))
    sig_path = str(tmp_path / "sigs.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    dedup.minhash_lsh_candidates(corpus, persist_signatures=sig_path).collect()
    bdir = dedup._bands_bloom_dir(sig_path)
    assert dedup._layout_pfx_len(bdir) == dedup._layout_pfx_len(
        dedup._bands_sidecar_path(sig_path), key="bpfx")
    # all-novel batch: nothing survives the bloom beyond fp (tiny corpus
    # -> fpp ~5e-4 over a few hundred keys: expect zero)
    novel = _mk_docs(spark, [(i + 10_000, f"zz{i} " * 30) for i in range(40)])
    nb = dedup._band_buckets(
        dedup.minhash_signatures(novel), 8, 8
    ).select("band", "bucket").distinct().localCheckpoint(eager=True)
    assert dedup._read_band_sidecar(spark, sig_path, nb).count() == 0
    # planted duplicate: its corpus rows always come back
    dup_bucket = (
        spark.read.parquet(dedup._bands_sidecar_path(sig_path))
        .select("band", "bucket").limit(1).localCheckpoint(eager=True))
    got = dedup._read_band_sidecar(spark, sig_path, dup_bucket)
    want = (spark.read.parquet(dedup._bands_sidecar_path(sig_path))
            .drop("bpfx", "bk")
            .join(dup_bucket, ["band", "bucket"], "left_semi"))
    assert ({tuple(r) for r in got.join(
                dup_bucket, ["band", "bucket"], "left_semi").collect()}
            == {tuple(r) for r in want.collect()})
    # bloom removed: degrade to unpruned read, candidates unchanged
    batch = docs.filter("doc_id % 2 = 1")
    with_bloom = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            batch, sig_path, append=False).collect()
    }
    shutil.rmtree(bdir)
    without = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            batch, sig_path, append=False).collect()
    }
    assert with_bloom == without


def test_maybe_compact_footer_gate_skips_resolution(spark, docs, tmp_path,
                                                    monkeypatch):
    """Round-12: the MinHash maintenance trigger's corpus-sized state
    resolution only runs when footer counts against the remembered
    resolved sizes say the gap could have reached the gate -- the
    per-micro-batch common path is counts + one json read (the streaming
    sink's auto_compact must not make the trigger itself a per-batch
    corpus term)."""
    state = str(tmp_path / "state")
    dedup.init_dedup_state(docs.limit(60), state, quality_col="doc_id")
    # seed the hint via one real resolution (first call has no meta)
    assert dedup.maybe_compact_dedup_state(
        spark, state, gap_ratio=50.0, min_log_rows=1) is None
    import json
    import os
    assert os.path.exists(dedup._compact_meta_path(state))
    with open(dedup._compact_meta_path(state)) as fh:
        hint = json.load(fh)
    assert hint["labels_resolved"] > 0
    # now the footer math alone must rule compaction out -- resolution
    # (load_cluster_state) must NOT run
    calls = []
    orig = dedup.load_cluster_state
    monkeypatch.setattr(
        dedup, "load_cluster_state",
        lambda *a, **k: (calls.append(1), orig(*a, **k))[1])
    assert dedup.maybe_compact_dedup_state(
        spark, state, gap_ratio=50.0, min_log_rows=1) is None
    assert calls == []
    # and a gap the footer math cannot rule out still resolves + fires
    # (two resolutions: the trigger's own check + the compaction's)
    assert dedup.maybe_compact_dedup_state(
        spark, state, gap_ratio=1.0, min_log_rows=1) is not None
    assert calls == [1, 1]


def test_band_bloom_heals_on_append_after_crashed_rebuild(spark, tmp_path):
    """Round-13 (ADVICE): a rebuild crash between removing the bloom dir
    and renaming the staged one in leaves the sidecar bloomless and a
    ``.build-*`` orphan behind; the next incremental APPEND must rebuild
    the bloom (not just skip the delta -- the gate would otherwise stay
    silently off forever) and sweep the stranded staging dir, with
    candidates identical to an uncrashed control."""
    import glob
    import os
    import shutil

    rows = _near_dup_rows(53, 80)
    docs = _mk_docs(spark, rows)
    sig_path = str(tmp_path / "sigs.parquet")
    control_path = str(tmp_path / "control.parquet")
    for p in (sig_path, control_path):
        dedup.minhash_lsh_candidates(
            docs.filter("doc_id % 3 = 0"), persist_signatures=p).collect()
    bdir = dedup._bands_bloom_dir(sig_path)
    # simulate the crash window: bloom gone, staging debris stranded
    shutil.rmtree(bdir)
    os.makedirs(bdir + ".build-deadbeef")
    batch = docs.filter("doc_id % 3 = 1")
    got = {tuple(r) for r in dedup.incremental_minhash_candidates(
        batch, sig_path, append=True).collect()}
    want = {tuple(r) for r in dedup.incremental_minhash_candidates(
        batch, control_path, append=True).collect()}
    assert got == want
    # bloom healed in the sidecar's own width, debris swept
    assert os.path.exists(bdir)
    assert dedup._layout_pfx_len(bdir) == dedup._layout_pfx_len(
        dedup._bands_sidecar_path(sig_path), key="bpfx")
    assert glob.glob(bdir + ".build-*") == []
    # and the healed bloom covers BOTH the pre-crash corpus and the
    # appended batch: a planted duplicate survives the gate, a novel
    # batch is pruned to nothing
    nb = dedup._band_buckets(
        dedup.minhash_signatures(
            _mk_docs(spark, [(i + 10_000, f"qq{i} " * 30)
                             for i in range(30)])), 8, 8
    ).select("band", "bucket").distinct().localCheckpoint(eager=True)
    assert dedup._read_band_sidecar(spark, sig_path, nb).count() == 0
    dup_bucket = (
        spark.read.parquet(dedup._bands_sidecar_path(sig_path))
        .select("band", "bucket").limit(1).localCheckpoint(eager=True))
    assert dedup._read_band_sidecar(
        spark, sig_path, dup_bucket).count() > 0


def test_band_sidecar_rebuild_preserves_unchanged_prefixes(spark, tmp_path):
    """The batch sidecar's geometric bloom rebuild is delta-preserving at
    an unchanged width, like the streaming ledger's: a prefix the append
    did not touch keeps its one file at the same path with the same
    bytes, and every prefix ends with one file."""
    import hashlib
    import json
    import os

    docs = _mk_docs(spark, _near_dup_rows(43, 120))
    sig_path = str(tmp_path / "sigs.parquet")
    dedup.minhash_lsh_candidates(
        docs.filter("doc_id < 4"), persist_signatures=sig_path).collect()
    bdir = dedup._bands_bloom_dir(sig_path)
    meta = dedup._bands_meta_path(sig_path)

    def snap():
        out = {}
        for f in sorted(dedup._bloom_list_files(bdir)):
            pfx = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
            with open(f, "rb") as fh:
                out.setdefault(pfx, []).append(
                    (f, hashlib.md5(fh.read()).hexdigest()))
        return out

    before = snap()
    with open(meta) as fh:
        rows_before = json.load(fh)["rows_at_rebuild"]
    batch = docs.filter("doc_id >= 4 AND doc_id < 8")
    width = dedup._layout_pfx_len(bdir)
    touched = {
        r["p"] for r in dedup._band_buckets(
            dedup.minhash_signatures(batch), 8, 8)
        .select(F.substring(dedup._bands_key_expr(), 1, width).alias("p"))
        .distinct().collect()
    }
    dedup.incremental_minhash_candidates(batch, sig_path, append=True).collect()
    with open(meta) as fh:  # the append doubled the sidecar: rebuild fired
        assert json.load(fh)["rows_at_rebuild"] >= 2 * rows_before
    after = snap()
    untouched = set(before) - touched
    assert untouched, "test premise: some prefix saw no append"
    for pfx in untouched:
        assert after[pfx] == before[pfx]
    assert all(len(fs) == 1 for fs in after.values())


def test_band_bloom_appends_collapse_geometrically(spark, tmp_path):
    """Each incremental append adds one bloom delta row per touched
    prefix; the geometric rebuild (sidecar doubled since last rebuild)
    must keep rows-per-prefix bounded instead of growing linearly in
    batch count -- and the gated probe stays lossless throughout."""
    rows = _near_dup_rows(43, 120)
    docs = _mk_docs(spark, rows)
    sig_path = str(tmp_path / "sigs.parquet")
    dedup.minhash_lsh_candidates(
        docs.filter("doc_id % 6 = 0"), persist_signatures=sig_path).collect()
    import json
    with open(dedup._bands_meta_path(sig_path)) as fh:
        assert json.load(fh)["rows_at_rebuild"] > 0
    bdir = dedup._bands_bloom_dir(sig_path)
    for m in range(1, 6):
        dedup.incremental_minhash_candidates(
            docs.filter(f"doc_id % 6 = {m}"), sig_path, append=True).collect()
        worst = (
            spark.read.schema(dedup._CDC_BLOOM_SCHEMA).parquet(bdir)
            .groupBy("pfx").count().agg(F.max("count")).collect()[0][0]
        )
        # the geometric schedule bounds pile-up to ~log2 of the growth
        # since the last rebuild; linear (no collapse) would reach
        # init + m rows per prefix (6 at batch 5)
        assert worst <= 4, f"bloom rows/pfx grew to {worst} after batch {m}"
    # lossless end-state: gated candidates == derivation fallback
    probe = docs.filter("doc_id >= 1000")  # the planted near-dups
    got = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            probe, sig_path, append=False).collect()
    }
    import os
    os.unlink(dedup._bands_meta_path(sig_path))
    exp = {
        tuple(r) for r in dedup.incremental_minhash_candidates(
            probe, sig_path, append=False).collect()
    }
    assert got == exp
