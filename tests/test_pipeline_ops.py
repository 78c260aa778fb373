"""Dedup / similarity / text / multimodal / streaming operator tests."""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from ariadne_spark.operators import dedup, multimodal, similarity, text

from .conftest import SF_DIR, WORK, rows_set


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a  b"), (3, "c"), (4, "A B ")], ["id", "t"]
    )
    out = dedup.exact_dedup_normalized(df, "t", "id")
    assert rows_set(out.select("id")) == {(1,), (3,)}


def test_minhash_finds_planted_near_dups(spark, docs):
    """Plant exact and near copies; minhash+LSH must recover them."""
    near = docs.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(near)
    pairs = dedup.near_dup_minhash(corpus, "text", "doc_id", threshold=0.8)
    found = {(a, b) for a, b, _ in pairs.collect()}
    planted = {(i, i + 100000) for (i,) in docs.limit(5).select("doc_id").collect()}
    assert planted <= found


def test_lsh_candidate_pairs_bucket_cap_preserves_results(spark, docs):
    """Chunk-pair fan-out over oversized MinHash band buckets returns
    EXACTLY the uncapped pair set (twin of the embedding_near_dup cap
    test): a mass-duplicated corpus collapses into one (band, sig)
    bucket, a tiny cap must split it into bounded cells without losing
    or inventing a single candidate pair."""
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(60)]  # one hot bucket, n=60
    rows += [(100 + i, f"unique document number {i} with its own words {i*7}")
             for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = dedup.minhash_signatures_fast(df, "text", "doc_id").cache()
    uncapped = dedup.lsh_candidate_pairs(sigs, bucket_cap=10**9)
    capped = dedup.lsh_candidate_pairs(sigs, bucket_cap=7)
    as_set = lambda d: {(r["id_a"], r["id_b"]) for r in d.collect()}
    want = as_set(uncapped)
    assert as_set(capped) == want
    # the hot bucket's 60·59/2 clone pairs are all present
    assert {(a, b) for a in range(60) for b in range(a + 1, 60)} <= want
    # and the cap genuinely engaged: with cap=7 the 60-row bucket splits
    # into ceil(60/7)=9 chunks, so no single join cell can exceed ~cap²
    from ariadne_spark.operators.dedup import band_projection

    counts = (
        band_projection(sigs).groupBy("band", "sig").count().collect()
    )
    assert max(r["count"] for r in counts) >= 60 > 7
    sigs.unpersist()


def test_near_dup_minhash_mass_duplication_bounded(spark):
    """End-to-end near_dup_minhash on a mass-duplicated corpus with a
    capped band join still verifies every clone pair at jaccard 1.0."""
    boiler = "same boilerplate sentence repeated across the whole crawl"
    df = spark.createDataFrame(
        [(i, boiler) for i in range(40)]
        + [(1000, "completely different content here")],
        ["doc_id", "text"],
    )
    import ariadne_spark.operators.dedup as dd

    orig = dd.lsh_candidate_pairs
    try:
        dd.lsh_candidate_pairs = (
            lambda sigs, num_hashes=64, bands=8, bucket_cap=20000: orig(
                sigs, num_hashes, bands, bucket_cap=5
            )
        )
        pairs = dedup.near_dup_minhash(df, "text", "doc_id", threshold=0.8)
        got = {(a, b): j for a, b, j in pairs.collect()}
    finally:
        dd.lsh_candidate_pairs = orig
    assert len(got) == 40 * 39 // 2
    assert all(j == 1.0 for j in got.values())


def test_simhash_portable_semantics_and_hand_check(spark):
    """The r07 portable (md5-nibble) hash family: identical texts
    collide at hamming 0, case/whitespace normalize, disjoint texts
    stay apart, NULL text yields no signature row (hence no pairs) —
    and one signature is
    hand-verified against a pure-Python md5 reimplementation so the
    bit convention (bit b = bit b%4 of hex nibble b//4) can never
    silently drift from the DuckDB oracle."""
    import hashlib

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "  ALPHA beta\tgamma   delta "),
            (3, "zzz qqq"),
            (4, None),
        ],
        "id bigint, t string",
    )
    sig = dedup.simhash_portable(df, "t", "id")
    pairs = dedup.simhash_near_pairs(sig, "id", max_hamming=3)
    got = {(a, b): h for a, b, h in pairs.collect()}
    assert got.get((1, 2)) == 0
    assert all(3 not in p and 4 not in p for p in got)

    def py_simhash(text):
        toks = text.lower().strip().split()
        counts = [0] * 64
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()[:16]
            for b in range(64):
                nib = int(h[b // 4], 16)
                counts[b] += (nib >> (b % 4)) & 1
        n = len(toks)
        s = 0
        for b in range(64):
            if 2 * counts[b] > n:
                s += -(2**63) if b == 63 else 1 << b
        return s

    got_sig = {r["id"]: r["simhash"] for r in sig.collect()}
    assert got_sig[1] == py_simhash("alpha beta gamma delta")
    assert got_sig[3] == py_simhash("zzz qqq")
    assert 4 not in got_sig


def test_ngram_set_dedup(spark):
    df = spark.createDataFrame(
        [(1, "abcd"), (2, "bcdab"), (3, "xyzw")], ["id", "t"]
    )  # 1 and 2 share the same 3-gram set {abc,bcd,(dab,cda)} — actually differ
    out = dedup.ngram_set_dedup(df, "t", "id", n=3)
    assert out.count() <= 3  # sanity: no crash, dedup by set identity
    df2 = spark.createDataFrame([(1, "hello world"), (2, "hello world"), (3, "bye")], ["id", "t"])
    assert rows_set(dedup.ngram_set_dedup(df2, "t", "id").select("id")) == {(1,), (3,)}


def test_cosine_topk_self_is_rank1(spark, emb):
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.cosine_topk(emb, queries, k=5)
    r1 = {r["query_id"]: r["vec_id"] for r in top.where("rank = 1").collect()}
    assert r1 == {0: 0, 1: 1}  # each vector's nearest neighbor is itself
    assert top.where("rank = 1").agg(F.min("cosine")).collect()[0][0] == pytest.approx(1.0)


def test_lsh_ann_finds_strong_neighbors(spark, emb):
    """The synthetic embeddings are near-orthogonal (max pairwise
    cosine ≈ 0.51), so LSH recall on *weak* neighbors is legitimately
    poor — the meaningful contract is that STRONG neighbors (the ANN
    use case) land in the same bucket. Plant perturbed copies and
    require the planted neighbor at a top rank; self-match must
    always survive."""
    planted = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x * 1.05).otherwise(x)
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(planted)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = similarity.lsh_ann_topk(corpus, queries, k=3, n_planes=12)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    for q in range(5):
        assert (q, q) in a  # self
        assert (q, q + 10000) in a  # planted strong neighbor recovered


def test_lsh_full_coverage_configs_equal_exact_topk(spark, emb):
    """The r07 oracle-gate configurations are PROVABLY exact: with
    n_planes=1 the built-in 1-bit multiprobe visits both buckets, and
    with planes_per_band=1 + multiprobe the banded path probes both
    signatures of every band — candidates ≡ corpus by construction,
    so both must equal brute-force cosine_topk row-for-row (hash
    values cannot affect the answer)."""
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = rows_set(similarity.cosine_topk(emb, queries, k=5))
    lsh = rows_set(similarity.lsh_ann_topk(emb, queries, k=5, n_planes=1))
    banded = rows_set(
        similarity.lsh_ann_topk_banded(
            emb, queries, k=5, bands=2, planes_per_band=1, multiprobe=True
        )
    )
    assert lsh == exact
    assert banded == exact


def test_banded_lsh_and_ivf_recover_strong_neighbors(spark, emb):
    """Banded OR-amplification and IVF probing must recover planted
    strong neighbors like the single-signature path does (round-1 gap:
    multiprobe-only recall)."""
    planted = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x * 1.05).otherwise(x)
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(planted)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for fn in (
        lambda: similarity.lsh_ann_topk_banded(corpus, queries, k=3),
        lambda: similarity.ivf_ann_topk(
            corpus, queries, k=3, n_centroids=16, n_probe=4
        ),
        # MLlib-trained cosine k-means cells (balanced inverted lists)
        lambda: similarity.ivf_ann_topk(
            corpus, queries, k=3, n_centroids=16, n_probe=4,
            centroids="kmeans",
        ),
    ):
        a = {(r["query_id"], r["vec_id"]) for r in fn().collect()}
        for q in range(5):
            assert (q, q) in a  # self
            assert (q, q + 10000) in a  # planted strong neighbor


def test_kmeans_centroids_shape_and_balance(spark, emb):
    """Trained centroids: k×dim array; every corpus vector assigns to
    some cell and trained cells are no worse-balanced than the hash
    pick's worst cell on this corpus."""
    import numpy as np

    cents = similarity.kmeans_centroids(emb, "embedding", k=8)
    dim = len(emb.select("embedding").first()[0])
    assert cents.shape == (8, dim)
    assert np.isfinite(cents).all()
    # rough balance check: assign all vectors, largest cell bounded
    assign = similarity._nearest_centroids_udf(cents, 1)
    cells = (
        emb.select(F.element_at(assign(F.col("embedding")), 1).alias("c"))
        .groupBy("c").count().collect()
    )
    n = emb.count()
    assert sum(r["count"] for r in cells) == n
    assert max(r["count"] for r in cells) < n  # not one degenerate cell


def test_text_features_deterministic(spark, docs):
    q = text.quality_features(docs, "text", "doc_id")
    row = q.where("doc_id = 0").collect()[0]
    assert row["n_chars_calc"] > 0 and row["n_words"] > 0
    lid = text.lang_id(docs, "text", "doc_id")
    assert set(lid.columns) == {"doc_id", "lang_guess", "marker_hits"}
    # token-equality counting + deterministic tie-break semantics
    cases = spark.createDataFrame(
        [
            (1, "The and of to is the"),  # en: 2x'the' + and/of/to/is = 6
            (2, "le la et les des"),  # fr: 5
            (3, "xyz qrs"),  # no evidence -> und
            (4, "the le"),  # 1-1 tie -> earliest code ('en' < 'fr')
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["lang_guess"], r["marker_hits"])
        for r in text.lang_id(cases, "text", "doc_id").collect()
    }
    assert got == {1: ("en", 6), 2: ("fr", 5), 3: ("und", 0), 4: ("en", 1)}
    fp1 = text.fingerprint(docs, "text", "doc_id")
    fp2 = text.fingerprint(docs, "text", "doc_id")
    assert rows_set(fp1) == rows_set(fp2)


def test_multimodal_roundtrip(spark, docs):
    packed = multimodal.pack_fake_media(docs.limit(20), "text")
    assert dict(packed.dtypes)["media"] == "binary"
    decoded = multimodal.decode_media(
        packed, "media", codec="fake", batch_cols=["doc_id"]
    )
    rows = decoded.collect()
    assert len(rows) == 20
    assert all(r["content_hash"] is not None and len(r["feature"]) == 8 for r in rows)
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(packed, "media", codec="pil")


def test_streaming_latest_version(spark, tmp_path):
    """availableNow file stream through the stateful latest-version
    operator equals the batch temporal dedup answer."""
    from ariadne_spark.streaming.maintenance import streaming_latest_version

    src = str(tmp_path / "src")
    data = [(1, 10, "a"), (1, 30, "c"), (1, 20, "b"), (2, 5, "x"), (2, 7, "y")]
    df = spark.createDataFrame(data, "k int, ts long, v string")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_latest_version(stream, "k", "ts")
    sink = str(tmp_path / "sink")
    q = (
        out.writeStream.format("memory")
        .queryName("latest_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        (r["k"], r["ts"], r["v"])
        for r in spark.sql("SELECT * FROM latest_sink").collect()
    }
    # last emission per key must be the max-ts row
    assert (1, 30, "c") in got and (2, 7, "y") in got


def test_salted_join_matches_plain(spark):
    """salted_join must return the exact multiset of a plain join for
    inner and left joins on a skewed key distribution."""
    import pytest

    from ariadne_spark.operators.util import salted_join

    # 90% of fact rows share one hot key; dim has matched + unmatched keys
    fact = spark.createDataFrame(
        [(1 if i % 10 else i, f"p{i}") for i in range(1000)], ["k", "payload"]
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "cold"), (77, "ghost")], ["k", "label"]
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, fact.join(dim, ["k"], how).collect())
        )
        salted = sorted(
            map(tuple, salted_join(fact, dim, ["k"], how, salt=8).collect())
        )
        assert salted == plain, how
    with pytest.raises(ValueError):
        salted_join(fact, dim, ["k"], "full_outer")


def test_cluster_files_improves_range_pruning(spark, tmp_path):
    """Range-clustered layout: a point lookup on the clustered column
    locates ~1 file; the same data shuffled randomly matches all
    files. Row sets stay identical either way."""
    from pyspark.sql import functions as F

    from ariadne_spark import Index
    from ariadne_spark.operators.layout import cluster_files

    spark.conf.set("spark.ariadne.storagePath", str(tmp_path / "store"))
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    # adversarial input order: round-robin partitions scatter every
    # key range across all input partitions
    scattered = df.repartition(8)
    files = cluster_files(scattered, str(tmp_path / "clustered"), "k", n_files=8)
    assert len(files) == 8

    idx = Index.for_name(
        "clustered", schema=df.schema, format="parquet", spark=spark
    )
    idx.add_range_index("k")
    idx.add_files(files).update()
    located = idx.locate_files({"k": [1234]})
    assert len(located) == 1  # disjoint ranges -> exactly one file
    got = idx.read_matching({"k": [1234]}).select("k", "v").collect()
    assert [(r["k"], r["v"]) for r in got] == [(1234, 1234 % 97)]


@pytest.mark.slow
def test_simhash_block_cap_preserves_results(spark):
    """Capped two-level blocking returns EXACTLY the uncapped pairs
    (pigeonhole completeness over the 12-bit sub-chunks)."""
    import random

    rnd = random.Random(7)
    sigs = []
    # clusters of near-identical signatures (hamming <= 3) + noise
    for base in [rnd.getrandbits(63) for _ in range(20)]:
        sigs.append(base)
        flipped = base
        for b in rnd.sample(range(64), 3):
            flipped ^= 1 << b
        sigs.append(flipped & ((1 << 63) - 1))
    sigs += [rnd.getrandbits(63) for _ in range(200)]
    df = spark.createDataFrame(
        [(i, s - (1 << 64) if s >= (1 << 63) else s) for i, s in enumerate(sigs)],
        "id long, simhash long",
    )
    uncapped = dedup.simhash_near_pairs(df, "id", max_hamming=3, block_cap=10**9)
    capped = dedup.simhash_near_pairs(df, "id", max_hamming=3, block_cap=5)
    as_set = lambda d: {(r["id_a"], r["id_b"], r["hamming"]) for r in d.collect()}
    assert as_set(capped) == as_set(uncapped)
    assert len(as_set(capped)) >= 20  # the planted clusters were found


def test_simhash_block_cap_bounds_candidates(spark):
    """Adversarial corpus: every doc shares 16-bit chunk 0 (one giant
    level-1 block) but is random elsewhere. Candidate count must stay
    ~linear with capping, vs ~N^2/2 without."""
    import random

    rnd = random.Random(11)
    n = 800
    rows = []
    for i in range(n):
        sig = (rnd.getrandbits(47) << 16) | 0xABCD  # chunk0 identical
        rows.append((i, sig))
    df = spark.createDataFrame(rows, "id long, simhash long")
    capped = dedup.simhash_candidate_pairs(df, "id", block_cap=50).count()
    # quadratic would be n*(n-1)/2 = 319,600; two-level blocking keeps
    # only pairs agreeing on some 12-bit sub-chunk of the other 48 bits
    assert capped < 4 * n


def test_salted_join_hostile_columns(spark):
    """salted_join survives a pre-existing __salt column and a MapType
    column on the left (only join keys are hashed)."""
    from collections import Counter

    from ariadne_spark.operators.util import salted_join

    fact = spark.createDataFrame(
        [(1, {"a": 1}, 99), (1, {"b": 2}, 98), (2, None, 97)],
        "k int, m map<string,int>, __salt int",
    )
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    got = salted_join(fact, dim, ["k"], "inner", salt=4)
    exp = fact.join(dim, ["k"], "inner")
    key = lambda r: (r["k"], r["__salt"], r["v"])
    assert Counter(map(key, got.collect())) == Counter(map(key, exp.collect()))
    assert set(got.columns) == set(exp.columns)


def test_frame_sample_stub_null_duration(spark):
    from ariadne_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, (2000,)), (2, (None,))],
        "id int, media_meta struct<duration_ms: int>",
    )
    out = multimodal.frame_sample_stub(df, every_ms=1000)
    rows = {(r["id"], r["frame_ts_ms"]) for r in out.collect()}
    # id=2 (null duration) emits nothing; id=1 emits 0,1000,2000
    assert rows == {(1, 0), (1, 1000), (1, 2000)}


def test_ppm_codec_decodes_real_image(spark):
    """The pure-numpy P6 decoder against a hand-built PPM with a
    comment line; stats verified against the known pixels."""
    import hashlib

    import numpy as np

    px = np.arange(2 * 3 * 3, dtype=np.uint8)  # 2x3 image, bytes 0..17
    blob = b"P6\n# a comment\n2 3\n255\n" + px.tobytes()
    df = spark.createDataFrame([(1, bytearray(blob)), (2, None)], "id int, media binary")
    out = {r["id"]: r for r in multimodal.decode_media(
        df, "media", codec="ppm", batch_cols=["id"]
    ).collect()}
    r = out[1]
    assert (r["decoded_width"], r["decoded_height"]) == (2, 3)
    assert r["mean_byte"] == round(float(px.mean()), 6)
    assert r["content_hash"] == hashlib.md5(px.tobytes()).hexdigest()
    assert out[2]["content_hash"] is None


def test_bmp_codec_decodes_real_image(spark):
    """24-bpp bottom-up BMP with row padding; decoder must flip rows
    and swap BGR->RGB."""
    import struct

    import numpy as np

    w, h = 3, 2
    rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    bgr = rgb[:, :, ::-1]
    row_bytes = (w * 3 + 3) & ~3  # 12 -> no pad here; use w=3 => 9->12 pad 3
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bgr[y].tobytes() + b"\x00" * (row_bytes - w * 3)
        rows.append(row)
    pix = b"".join(rows)
    header = b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 0, 0, 0, 0)
    blob = header + info + pix
    df = spark.createDataFrame([(1, bytearray(blob))], "id int, media binary")
    r = multimodal.decode_media(df, "media", codec="bmp", batch_cols=["id"]).collect()[0]
    assert (r["decoded_width"], r["decoded_height"]) == (w, h)
    assert r["mean_byte"] == round(float(rgb.mean()), 6)
    import hashlib

    assert r["content_hash"] == hashlib.md5(rgb.tobytes()).hexdigest()


@pytest.mark.slow
def test_image_phash_near_dup_finds_perturbed_clones(spark):
    """Perceptual image dedup: a slightly perturbed re-encode of an
    image (different content_hash — byte-exact dedup misses it) must
    pair with its original at small hamming; a structurally different
    image must not pair with either."""
    import numpy as np

    def ppm(arr):
        h, w, _ = arr.shape
        return bytearray(
            f"P6 {w} {h} 255\n".encode()
            + np.ascontiguousarray(arr.astype(np.uint8)).tobytes()
        )

    # textured (dense-spectrum) images — the regime pHash is
    # characterized for; synthetic gradients have near-zero spectra
    # where the median threshold is inherently unstable
    base = np.random.RandomState(0).randint(0, 256, (24, 24, 3)).astype(
        np.uint8
    )
    pert = np.clip(
        base.astype(int)
        + np.random.RandomState(7).randint(-2, 3, base.shape),
        0, 255,
    ).astype(np.uint8)  # mild global noise, a re-encode analogue
    other = np.random.RandomState(99).randint(0, 256, (24, 24, 3)).astype(
        np.uint8
    )

    df = spark.createDataFrame(
        [(1, ppm(base)), (2, ppm(pert)), (3, ppm(other))],
        "doc_id long, media binary",
    )
    feats = {
        r["doc_id"]: r
        for r in multimodal.decode_media(
            df, "media", codec="ppm", batch_cols=["doc_id"], with_phash=True
        ).collect()
    }
    assert feats[1]["content_hash"] != feats[2]["content_hash"]
    assert feats[1]["phash"] is not None
    # default decode pass skips the resample+DCT work
    cheap = multimodal.decode_media(
        df, "media", codec="ppm", batch_cols=["doc_id"]
    ).collect()[0]
    assert cheap["phash"] is None

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.image_near_dup(
            df, "media", "doc_id", codec="ppm", max_hamming=3
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # corrupt blob: dropped, not errored
    df2 = df.unionByName(
        spark.createDataFrame(
            [(4, bytearray(b"NOTPPM!!"))], "doc_id long, media binary"
        )
    )
    pairs2 = multimodal.image_near_dup(df2, "media", "doc_id", codec="ppm")
    assert {(r["id_a"], r["id_b"]) for r in pairs2.collect()} == {(1, 2)}


def test_audio_fingerprint_near_dup_and_invariances(spark):
    """Acoustic dedup: a mildly noised re-encode pairs with its
    original (different content_hash); a 2x-resampled copy pairs too
    (fingerprint normalizes the time grid); unrelated audio does not;
    corrupt blobs drop."""
    import struct

    import numpy as np

    def wav(samples, rate=8000):
        pcm = np.clip(samples, -32768, 32767).astype("<i2").tobytes()
        hdr = (
            b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data" + struct.pack("<I", len(pcm))
        )
        return bytearray(hdr + pcm)

    base = (np.random.RandomState(0).randn(4000).cumsum() * 50)
    pert = base + np.random.RandomState(7).randn(4000) * 2
    other = np.random.RandomState(99).randn(4000).cumsum() * 50
    up = np.interp(np.linspace(0, 3999, 8000), np.arange(4000), base)

    df = spark.createDataFrame(
        [
            (1, wav(base)),
            (2, wav(pert)),
            (3, wav(other)),
            (4, wav(up, rate=16000)),
            (5, bytearray(b"NOTAWAV")),
        ],
        "doc_id long, media binary",
    )
    feats = {
        r["doc_id"]: r
        for r in multimodal.decode_audio(
            df, "media", batch_cols=["doc_id"], with_fingerprint=True
        ).collect()
    }
    assert feats[1]["content_hash"] != feats[2]["content_hash"]
    assert feats[1]["afp"] is not None and feats[5]["afp"] is None
    # default decode skips the FFT work
    assert (
        multimodal.decode_audio(df, "media", batch_cols=["doc_id"])
        .where("doc_id = 1").collect()[0]["afp"] is None
    )

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.audio_near_dup(
            df, "media", "doc_id", max_hamming=3
        ).collect()
    }
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs
    assert not any(3 in p or 5 in p for p in pairs)


def test_synthetic_ppm_roundtrip(spark):
    from ariadne_spark.operators.multimodal import pack_synthetic_ppm

    df = spark.createDataFrame([(k,) for k in range(25)], "doc_id long")
    packed = pack_synthetic_ppm(df, "doc_id")
    out = multimodal.decode_media(packed, "media", codec="ppm", batch_cols=["doc_id"])
    for r in out.collect():
        k = r["doc_id"]
        assert r["decoded_width"] == 4 + k % 13
        assert r["decoded_height"] == 3 + k % 7
        n = r["decoded_width"] * r["decoded_height"] * 3
        import numpy as np

        exp = float((((k * 7) + np.arange(n)) % 256).mean())
        assert r["mean_byte"] == round(exp, 6)

def test_png_codec_decodes_all_filter_types(spark):
    """pack_synthetic_png emits scanline filters cycling 0..4; the
    zlib+numpy decoder must reverse every one to recover the
    closed-form pixels (hash-exact, not just stats)."""
    import hashlib

    import numpy as np

    from ariadne_spark.operators.multimodal import pack_synthetic_png

    df = spark.createDataFrame([(k,) for k in range(30)], "doc_id long")
    packed = pack_synthetic_png(df, "doc_id")
    out = multimodal.decode_media(packed, "media", codec="png", batch_cols=["doc_id"])
    for r in out.collect():
        k = r["doc_id"]
        w, h = 4 + k % 11, 3 + k % 5
        assert (r["decoded_width"], r["decoded_height"]) == (w, h)
        exp = ((k * 11 + np.arange(w * h * 3)) % 256).astype(np.uint8)
        assert r["content_hash"] == hashlib.md5(exp.tobytes()).hexdigest()
        assert r["mean_byte"] == round(float(exp.mean()), 6)


def test_png_codec_rejects_malformed(spark):
    from ariadne_spark.operators.multimodal import _decode_png

    assert _decode_png(None)["content_hash"] is None
    assert _decode_png(b"nope")["content_hash"] is None
    # 16-bit depth is out of scope and must be refused, not mis-read
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    deep = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + chunk(b"IEND", b"")
    )
    assert _decode_png(deep)["content_hash"] is None


def test_wav_codec_roundtrip_and_formats(spark):
    """Synthetic 16-bit PCM roundtrip (hash-exact) plus a hand-built
    8-bit stereo WAV with an extra chunk the parser must skip."""
    import hashlib
    import struct

    import numpy as np

    from ariadne_spark.operators.multimodal import (
        decode_audio,
        pack_synthetic_wav,
    )

    df = spark.createDataFrame([(k,) for k in range(20)], "doc_id long")
    out = decode_audio(
        pack_synthetic_wav(df, "doc_id"), "media", codec="wav", batch_cols=["doc_id"]
    )
    for r in out.collect():
        k = r["doc_id"]
        n = 64 + k % 97
        samples = (((k * 31 + np.arange(n) * 7) % 2001) - 1000).astype("<i2")
        assert r["n_samples"] == n
        assert r["n_channels"] == 1
        assert r["sample_rate_hz"] == 8000
        assert r["duration_ms"] == n * 0.125
        assert r["content_hash"] == hashlib.md5(samples.tobytes()).hexdigest()
        amp = samples.astype(np.float64)
        assert r["rms"] == round(float(np.sqrt((amp * amp).mean())), 6)

    # 8-bit stereo with a LIST chunk before data (must be skipped)
    pcm = bytes([128, 128, 228, 28, 128, 128])  # 3 frames x 2 ch
    fmt = struct.pack("<HHIIHH", 1, 2, 4000, 4000 * 2, 2, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    df2 = spark.createDataFrame([(1, bytearray(blob)), (2, None)], "id int, media binary")
    got = {r["id"]: r for r in decode_audio(df2, "media", batch_cols=["id"]).collect()}
    r = got[1]
    assert (r["n_samples"], r["n_channels"], r["sample_rate_hz"]) == (3, 2, 4000)
    amp = np.array([0, 0, 100, -100, 0, 0], dtype=np.float64)
    assert r["rms"] == round(float(np.sqrt((amp * amp).mean())), 6)
    assert got[2]["content_hash"] is None

    with pytest.raises(NotImplementedError):
        decode_audio(df2, "media", codec="mp3")


def test_optional_codec_gating_names_the_dependency(spark):
    """Optional codecs must raise an actionable install hint when the
    library is absent — and only then (r03 verdict #7: adapters green
    where the lib exists, cleanly gated where not)."""
    from ariadne_spark.operators.multimodal import (
        _pil_available,
        _soundfile_available,
        decode_audio,
        decode_media,
    )

    df = spark.createDataFrame([(1, bytearray(b"xx"))], "id int, media binary")
    if not _pil_available():
        with pytest.raises(NotImplementedError, match="Pillow"):
            decode_media(df, "media", codec="jpeg")
    if not _soundfile_available():
        with pytest.raises(NotImplementedError, match="soundfile"):
            decode_audio(df, "media", codec="flac")
    # unknown codecs still fail with the full menu
    with pytest.raises(NotImplementedError, match="jpeg"):
        decode_media(df, "media", codec="tiff9000")


def test_pil_adapter_logic_with_stub(monkeypatch):
    """Driver-side unit test of the Pillow adapter: a stub PIL module
    exercises the decode path (convert→RGB→_pixel_features) without
    the real library; Arrow plumbing is already covered by the
    pure-numpy codecs, which share the mapInPandas runner."""
    import sys
    import types

    import numpy as np

    from ariadne_spark.operators.multimodal import (
        _decode_pil,
        _pixel_features,
    )

    rgb = (np.arange(2 * 3 * 3) % 256).astype(np.uint8).reshape(2, 3, 3)

    class _Img:
        def convert(self, mode):
            assert mode == "RGB"
            return rgb

    pil = types.ModuleType("PIL")
    pil_image = types.ModuleType("PIL.Image")
    pil_image.open = lambda fh: _Img()
    pil.Image = pil_image
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", pil_image)

    got = _decode_pil(b"\xff\xd8anything")
    assert got == _pixel_features(rgb, 3, 2)
    assert got["decoded_width"] == 3 and got["decoded_height"] == 2
    assert _decode_pil(None)["content_hash"] is None

    # undecodable blob degrades to the null row, not an exception
    def boom(fh):
        raise OSError("cannot identify image file")

    pil_image.open = boom
    assert _decode_pil(b"junk")["content_hash"] is None


def test_soundfile_adapter_parity_with_wav_codec(monkeypatch):
    """The soundfile adapter must emit byte-identical features to the
    pure-numpy WAV codec for the same PCM (hash/rms/duration parity),
    so switching containers never changes downstream dedup joins."""
    import struct
    import sys
    import types

    import numpy as np

    from ariadne_spark.operators.multimodal import (
        _decode_soundfile,
        _decode_wav,
    )

    samples = (((np.arange(150) * 13) % 2001) - 1000).astype("<i2")
    pcm = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body

    sf = types.ModuleType("soundfile")
    sf.read = lambda fh, dtype: (samples.astype(np.int16), 8000)
    monkeypatch.setitem(sys.modules, "soundfile", sf)

    assert _decode_soundfile(b"fLaCfake") == _decode_wav(wav)
    assert _decode_soundfile(None)["content_hash"] is None

    def boom(fh, dtype):
        raise RuntimeError("unsupported container")

    sf.read = boom
    assert _decode_soundfile(b"junk")["content_hash"] is None


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.1"),
    reason="needs the sf0.1 corpus (>=200 planted pairs)",
)
def test_embedding_near_dup_full_recall_at_scale(spark):
    """OR-amplified banding must recover EVERY planted near-identical
    pair at a scale with hundreds of them (r03 verdict: the single
    10-plane signature missed pair (1071, 1001071), cosine 0.999998,
    split across buckets by one near-boundary plane — an sf0.01 gate
    cannot catch that class of recall regression)."""
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    planted = emb.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x * 1.01).otherwise(x)
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup(corpus, threshold=0.98).collect()
    }
    want = {
        (r["vec_id"], r["vec_id"] + 1_000_000)
        for r in emb.where(F.col("vec_id") % 7 == 0).select("vec_id").collect()
    }
    assert len(want) >= 200
    assert got == want  # complete recall, no false positives at 0.98


def test_embedding_near_dup_bucket_cap_preserves_results(spark):
    """Chunk-pair fan-out over oversized LSH buckets returns EXACTLY the
    uncapped within-bucket pairs: an adversarial all-similar corpus (one
    cluster, one bucket) with a tiny cap must match the plain join."""
    import random

    rnd = random.Random(13)
    dim = 16
    base = [rnd.gauss(0, 1) for _ in range(dim)]
    rows = []
    for i in range(60):  # tight cluster: tiny perturbations of one vector
        rows.append((i, [v + rnd.gauss(0, 0.005) for v in base]))
    for i in range(60, 80):  # unrelated noise
        rows.append((i, [rnd.gauss(0, 1) for _ in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.98, id_col="vec_id", vec_col="embedding", n_planes=6)
    uncapped = similarity.embedding_near_dup(df, bucket_cap=10**9, **kw)
    capped = similarity.embedding_near_dup(df, bucket_cap=7, **kw)
    as_set = lambda d: {(r["id_a"], r["id_b"], r["cosine"]) for r in d.collect()}
    want = as_set(uncapped)
    assert as_set(capped) == want
    assert len(want) >= 60  # the planted cluster was found

@pytest.mark.slow
def test_ivf_index_prunes_files_and_recalls(spark, emb, tmp_path):
    """The persisted IVF path must (a) locate a strict subset of the
    clustered files for a probe, and (b) recover most of the exact
    top-k (planted self-hit must always be rank 1)."""
    spark.conf.set("spark.ariadne.storagePath", str(tmp_path / "store"))
    idx, cent_path = similarity.ivf_index_build(
        emb, str(tmp_path / "ivf"), "t_ivf_emb", n_centroids=16, n_files=8
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cells = {r["ivf_cell"] for r in
             spark.read.parquet(str(tmp_path / "ivf")).select("ivf_cell").distinct().collect()}
    located = idx.locate_files({"ivf_cell": sorted(cells)[:2]})
    total = idx.locate_files({"ivf_cell": sorted(cells)})
    assert len(located) < len(total)  # clustering => cell subset hits a file subset
    got = similarity.ivf_index_topk(idx, cent_path, queries, k=5, n_probe=4)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid, rs in by_q.items():
        top1 = min(rs, key=lambda r: r["rank"])
        assert top1["vec_id"] == qid  # self-hit always survives probing
        hits = {r["vec_id"] for r in rs} & exact_sets[qid]
        assert len(hits) >= 2  # recall floor for 4/16 probed cells


@pytest.mark.slow
def test_zorder_clustering_prunes_both_columns(spark, tmp_path):
    """Z-order layout: point-band queries on EITHER clustered column
    prune to a fraction of files; single-column range clustering only
    prunes its own column. Row parity holds on both layouts."""
    import random

    from pyspark.sql import functions as F

    from ariadne_spark import Index
    from ariadne_spark.operators.layout import (
        cluster_files,
        cluster_files_zorder,
    )

    spark.conf.set("spark.ariadne.storagePath", str(tmp_path / "store"))
    rng = random.Random(11)
    rows = [(rng.randrange(4096), rng.randrange(4096)) for _ in range(8000)]
    df = spark.createDataFrame(rows, "x long, y long").repartition(8)

    zfiles = cluster_files_zorder(
        df, str(tmp_path / "z"), ["x", "y"], n_files=16
    )
    lfiles = cluster_files(df, str(tmp_path / "lin"), "x", n_files=16)
    assert len(zfiles) == 16 and len(lfiles) == 16

    def build(name, files):
        idx = Index.for_name(
            name, schema=df.schema, format="parquet", spark=spark
        )
        idx.add_range_index("x")
        idx.add_range_index("y")
        idx.add_files(files).update()
        return idx

    zidx = build("zord", zfiles)
    lidx = build("linear", lfiles)

    xq = list(range(100, 130))
    yq = list(range(2000, 2030))
    # both layouts prune x-queries well
    assert len(zidx.locate_files({"x": xq})) <= 10
    assert len(lidx.locate_files({"x": xq})) <= 2
    # only z-order prunes y-queries; linear x-clustering scatters y
    assert len(zidx.locate_files({"y": yq})) <= 10
    assert len(lidx.locate_files({"y": yq})) == 16

    # both rewrites preserve the row multiset
    exp = sorted(rows)
    zall = sorted(
        (r["x"], r["y"]) for r in spark.read.parquet(str(tmp_path / "z")).collect()
    )
    lall = sorted(
        (r["x"], r["y"]) for r in spark.read.parquet(str(tmp_path / "lin")).collect()
    )
    assert zall == exp and lall == exp


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed identically on the join key sort-merge-join
    with ZERO exchanges and zero sorts — the co-located layout for
    repeated big joins."""
    from pyspark.sql import functions as F

    from ariadne_spark.operators.layout import bucketed_join, write_bucketed

    left = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    write_bucketed(left, "bk_left", "k", 8, path=str(tmp_path / "l"))
    write_bucketed(right, "bk_right", "k", 8, path=str(tmp_path / "r"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "bk_left", "bk_right", "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the expensive stage is gone: no Exchange on either side
        # (Spark keeps cheap task-local sorts when a bucket spans
        # multiple files; those don't shuffle)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 5000
        got = joined.where("k = 1234").collect()[0]
        assert (got["a"], got["b"]) == (2468, 3702)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


# --- substring dedup ------------------------------------------------------


def test_substring_dedup_hand_computed_spans(spark):
    from ariadne_spark.operators import dedup as dd

    # doc 1 and doc 2 share the 3-token run "x y z"; doc 3 is clean;
    # doc 4 repeats a window WITHIN itself (counts toward min_count).
    df = spark.createDataFrame(
        [
            (1, "a b x y z c"),
            (2, "x y z q r"),
            (3, "u v w s t"),
            (4, "p q r m p q r m n"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"], r["cleaned_text"])
        for r in dd.substring_dedup(df, k=3).collect()
    }
    # doc1: window "x y z" at 3 -> covers 3..5
    assert out[1] == (6, 3, "a b c")
    assert out[2] == (5, 3, "q r")
    assert out[3] == (5, 0, "u v w s t")
    # doc4: "p q r" at 1 and 5, "q r m" at 2 and 6 -> merged 1..4 + 5..8
    assert out[4] == (9, 8, "n")


def test_substring_dedup_merges_overlapping_spans_once(spark):
    from ariadne_spark.operators import dedup as dd

    # long shared run: L=6 tokens shared, k=3 -> 4 windows, merged
    # coverage must be exactly 6 (not 12)
    df = spark.createDataFrame(
        [(1, "s1 s2 s3 s4 s5 s6"), (2, "s1 s2 s3 s4 s5 s6 tail")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_dup_tokens"], r["cleaned_text"])
        for r in dd.substring_dedup(df, k=3).collect()
    }
    assert out[1] == (6, "")
    assert out[2] == (6, "tail")


def test_substring_dedup_short_docs_untouched(spark):
    from ariadne_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["cleaned_text"] for r in dd.substring_dedup(df, k=3).collect()}
    # both docs are k-1 tokens -> zero windows -> untouched even
    # though the FULL texts are equal (sub-k duplication is below
    # resolution, exactly like the paper's minimum match length)
    assert out == {1: "a b", 2: "a b"}


# --- semantic dedup -------------------------------------------------------


def test_semantic_dedup_components_and_reps(spark):
    from ariadne_spark.operators import similarity

    # 1~2~3 one chain (non-transitive pairs), 4 far away: reps must
    # come from the component CLOSURE, not pairwise drops
    base = [1.0, 0.0, 0.0, 0.0]
    near1 = [0.999, 0.045, 0.0, 0.0]
    near2 = [0.996, 0.09, 0.0, 0.0]
    far = [0.0, 0.0, 1.0, 0.0]
    df = spark.createDataFrame(
        [(1, base), (2, near1), (3, near2), (4, far)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["rep_id"], r["is_kept"])
        for r in similarity.semantic_dedup(df, threshold=0.998).collect()
    }
    assert out == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        4: (4, True),
    }


def test_semantic_dedup_no_pairs_keeps_everything(spark):
    from ariadne_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = similarity.semantic_dedup(df, threshold=0.99).collect()
    assert all(r["is_kept"] and r["rep_id"] == r["vec_id"] for r in out)
    assert len(out) == 2


def test_substring_dedup_rejects_degenerate_params(spark):
    from ariadne_spark.operators import dedup as dd
    import pytest as _pt

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pt.raises(ValueError):
        dd.substring_dedup(df, k=0)
    with _pt.raises(ValueError):
        dd.substring_dedup(df, k=3, min_count=1)


def test_substring_dedup_invariants_on_corpus(spark, docs):
    """Structural invariants at corpus scale: token accounting adds
    up, cleaned text is the uncovered-token subsequence, and a fully
    replicated corpus is fully covered."""
    from ariadne_spark.operators import dedup as dd

    out = dd.substring_dedup(docs.select("doc_id", "text"), k=6).cache()
    # n_tokens - n_dup_tokens == len(cleaned tokens); n_dup in range
    bad = out.where(
        (F.col("n_dup_tokens") < 0)
        | (F.col("n_dup_tokens") > F.col("n_tokens"))
        | (
            F.col("n_tokens") - F.col("n_dup_tokens")
            != F.when(
                F.length("cleaned_text") > 0,
                F.size(F.split("cleaned_text", " ")),
            ).otherwise(F.lit(0))
        )
    ).count()
    assert bad == 0
    out.unpersist()

    # replicate the corpus: every window now occurs >= 2x, so every
    # >=k-token doc must be FULLY covered
    rep = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    rout = dd.substring_dedup(rep, k=6)
    assert (
        rout.where(
            (F.col("n_tokens") >= 6)
            & (F.col("n_dup_tokens") != F.col("n_tokens"))
        ).count()
        == 0
    )


# --- incremental substring dedup ------------------------------------------


def test_incremental_substring_matches_full(spark, docs, tmp_path):
    """Batch result == substring_dedup(history ∪ batch) restricted to
    the batch — the defining equivalence of the window-count store."""
    from ariadne_spark.operators import dedup as dd

    store = str(tmp_path / "winstore")
    hist = docs.select("doc_id", "text").where("doc_id < 300")
    batch = docs.select("doc_id", "text").where("doc_id >= 300")
    # ingest history as two appends (multi-batch store shape)
    for lo, hi in ((0, 150), (150, 300)):
        dd.incremental_substring_dedup(
            hist.where(f"doc_id >= {lo} and doc_id < {hi}"),
            store, k=5,
        )
    inc = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"], r["cleaned_text"])
        for r in dd.incremental_substring_dedup(
            batch, store, k=5, update_store=False
        ).collect()
    }
    full = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"], r["cleaned_text"])
        for r in dd.substring_dedup(
            hist.unionByName(batch), k=5
        ).collect()
        if r["doc_id"] >= 300
    }
    assert inc == full and len(inc) == 200


def test_incremental_substring_recrawl_accumulates(spark, tmp_path):
    from ariadne_spark.operators import dedup as dd

    store = str(tmp_path / "winstore")
    d = spark.createDataFrame(
        [(1, "u1 u2 u3 u4 u5")], ["doc_id", "text"]
    )
    first = dd.incremental_substring_dedup(d, store, k=3).collect()[0]
    assert first["n_dup_tokens"] == 0  # clean on first sight
    again = dd.incremental_substring_dedup(
        d.select((F.col("doc_id") + 1).alias("doc_id"), "text"), store, k=3
    ).collect()[0]
    assert again["n_dup_tokens"] == 5 and again["cleaned_text"] == ""


def test_window_store_compact_sum_merges_and_swaps(spark, tmp_path):
    from ariadne_spark.operators import dedup as dd

    store = str(tmp_path / "winstore")
    d1 = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    d2 = spark.createDataFrame([(2, "a b c e")], ["doc_id", "text"])
    dd.incremental_substring_dedup(d1, store, k=3)
    dd.incremental_substring_dedup(d2, store, k=3)
    n = dd.window_store_compact(spark, store)
    merged = {
        r["__wk"]: r["count"]
        for r in spark.read.parquet(store).collect()
    }
    assert n == len(merged) == 3  # 'a b c' merged to count 2, plus two singles
    assert sorted(merged.values()) == [1, 1, 2]
    # compacted store behaves identically: 'a b c' historical count 2
    out = dd.incremental_substring_dedup(
        spark.createDataFrame([(3, "a b c z")], ["doc_id", "text"]),
        store, k=3, update_store=False,
    ).collect()[0]
    assert out["n_dup_tokens"] == 3 and out["cleaned_text"] == "z"


@pytest.mark.slow
def test_incremental_results_recompute_safe_after_own_append(spark, tmp_path):
    """A recompute of the batch result AFTER the call's own store
    append (cache eviction / executor loss in production) must read
    the PRE-append history snapshot — not count the batch against
    itself. Regression: directory-bound store reads re-listed the
    appended files and flagged every batch row."""
    from ariadne_spark.operators import dedup as dd

    store = str(tmp_path / "winstore")
    fa = spark.createDataFrame(
        [(0, "w1 w2 w3 w4 tailA"), (1, "fully distinct content one")],
        ["doc_id", "text"],
    )
    fb = spark.createDataFrame(
        [(2, "w1 w2 w3 w4 tailB"), (3, "fully distinct content two")],
        ["doc_id", "text"],
    )
    dd.incremental_substring_dedup(fa, store, k=4)
    out = dd.incremental_substring_dedup(fb, store, k=4)  # appends
    want = {(2, 5, 4, "tailB"), (3, 4, 0, "fully distinct content two")}
    assert {tuple(r) for r in out.collect()} == want
    out.unpersist()  # drop the cache -> forces a full recompute
    assert {tuple(r) for r in out.collect()} == want

    sstore = str(tmp_path / "sigstore")
    base = "the quick brown fox jumps over the lazy dog again and again"
    dd.incremental_near_dup(
        spark.createDataFrame([(0, base)], ["doc_id", "text"]), sstore
    )
    pairs = dd.incremental_near_dup(
        spark.createDataFrame([(1, base + " ")], ["doc_id", "text"]), sstore
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 1)}
    pairs.unpersist()
    # recompute must not band-join doc 1 against its own appended
    # signature (snapshot excludes it; self-pairs are also id-guarded)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(0, 1)}


@pytest.mark.slow
def test_window_store_index_prunes_without_changing_results(spark, tmp_path):
    """Engine × pipeline composition: a bloom file-index over the
    window store prunes history files that cannot contain any batch
    digest — identical results, fewer files read; files appended
    AFTER the last index refresh are read unconditionally (a lagging
    index widens the scan, never misses history)."""
    from ariadne_spark.operators import dedup as dd

    spark.conf.set(
        "spark.ariadne.storagePath", str(tmp_path / "ariadne_store")
    )
    store = str(tmp_path / "winstore")
    # two history batches with DISJOINT vocabularies -> disjoint
    # digest sets in separate part files
    h1 = spark.createDataFrame(
        [(i, f"a{i} a{i+1} a{i+2} common1 tail{i}") for i in range(0, 40)],
        ["doc_id", "text"],
    )
    h2 = spark.createDataFrame(
        [(i, f"b{i} b{i+1} b{i+2} zz{i} yy{i}") for i in range(40, 80)],
        ["doc_id", "text"],
    )
    dd.incremental_substring_dedup(h1, store, k=3)
    dd.incremental_substring_dedup(h2, store, k=3)
    idx = dd.window_store_index(spark, store, "winstore_idx_test")

    # batch repeats an h1 window only -> h2's files must prune
    batch = spark.createDataFrame(
        [(100, "a0 a1 a2 common1 tail0"), (101, "totally novel words here")],
        ["doc_id", "text"],
    )
    bc = (
        dd._window_rows(batch, 3, "text", "doc_id")
        .groupBy("__wk").count().select("__wk")
    )
    all_files = dd._snapshot_files(spark, store, "window")
    pruned = dd._prune_snapshot_with_index(spark, all_files, idx, bc)
    assert 0 < len(pruned) < len(all_files)  # pruning actually fired

    plain = {
        tuple(r)
        for r in dd.incremental_substring_dedup(
            batch, store, k=3, update_store=False
        ).collect()
    }
    indexed = {
        tuple(r)
        for r in dd.incremental_substring_dedup(
            batch, store, k=3, update_store=False, store_index=idx
        ).collect()
    }
    assert indexed == plain
    assert next(r for r in plain if r[0] == 100)[2] > 0  # dup tokens cut

    # lagging index: a THIRD append the index never saw must still be
    # counted as history even though its digests miss the blooms
    h3 = spark.createDataFrame(
        [(200, "q1 q2 q3 q4")], ["doc_id", "text"]
    )
    dd.incremental_substring_dedup(h3, store, k=3)
    late = spark.createDataFrame([(300, "q1 q2 q3 rest")], ["doc_id", "text"])
    out = dd.incremental_substring_dedup(
        late, store, k=3, update_store=False, store_index=idx
    ).collect()[0]
    assert out["n_dup_tokens"] == 3 and out["cleaned_text"] == "rest"


@pytest.mark.slow
def test_signature_store_index_prunes_without_changing_results(
    spark, tmp_path
):
    """r09 engine x pipeline composition: a bloom file-index over the
    MinHash signature store, keyed by the DERIVED band keys (an
    expression bloom: array(xxhash64(h0..h7), ...)). A batch reads
    only store files whose bloom may contain one of its band keys —
    identical pairs, fewer files; a fully novel batch reads ZERO
    indexed files; files appended after the last index refresh are
    read unconditionally."""
    from pyspark.sql import functions as F

    from ariadne_spark.operators import dedup as dd

    spark.conf.set(
        "spark.ariadne.storagePath", str(tmp_path / "ariadne_store")
    )
    store = str(tmp_path / "sigstore")
    base = "the quick brown fox jumps over the lazy dog again and again"
    h1 = spark.createDataFrame(
        [(i, f"{base} variant {i}") for i in range(20)], ["doc_id", "text"]
    )
    h2 = spark.createDataFrame(
        [
            (100 + i, f"w{i} x{i+1} y{i+2} z{i+3} q{i+4} r{i+5} s{i+6}")
            for i in range(20)
        ],
        ["doc_id", "text"],
    )
    dd.signature_store_write(
        dd.minhash_signatures_fast(h1, "text", "doc_id"), store,
        mode="overwrite",
    )
    dd.signature_store_write(
        dd.minhash_signatures_fast(h2, "text", "doc_id"), store,
        mode="append",
    )
    idx = dd.signature_store_index(spark, store, "sigstore_idx_test")
    all_files = dd._snapshot_files(spark, store, "signature")
    assert len(idx.filelist.filenames()) == len(all_files)

    # batch near-duplicates h1 only -> h2-only files can prune
    batch = spark.createDataFrame(
        [(200, base + " variant 3 ")], ["doc_id", "text"]
    )
    plain = {
        tuple(r)
        for r in dd.incremental_near_dup(
            batch, store, threshold=0.5, update_store=False
        ).collect()
    }
    indexed = {
        tuple(r)
        for r in dd.incremental_near_dup(
            batch, store, threshold=0.5, update_store=False, store_index=idx
        ).collect()
    }
    assert indexed == plain and len(plain) > 0

    # novel batch: no band key can hit history -> zero files read and
    # zero pairs
    novel = spark.range(5).select(
        (F.col("id") + 900).alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.md5(F.concat(F.col("id").cast("string"), F.lit(f"-{j}")))
                for j in range(30)
            ],
        ).alias("text"),
    )
    nprobe = dd.band_projection(
        dd.minhash_signatures_fast(novel, "text", "doc_id")
    ).select(F.col("sig").alias("band_key")).distinct()
    pruned = dd._prune_snapshot_with_index(
        spark, all_files, idx, nprobe, column="band_key"
    )
    assert pruned == []
    assert (
        dd.incremental_near_dup(
            novel, store, threshold=0.5, update_store=False, store_index=idx
        ).count()
        == 0
    )

    # lagging index: an append the index never saw is still history
    h3 = spark.createDataFrame([(300, base + " v3")], ["doc_id", "text"])
    dd.signature_store_write(
        dd.minhash_signatures_fast(h3, "text", "doc_id"), store, mode="append"
    )
    late = spark.createDataFrame([(400, base + " v3 ")], ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.incremental_near_dup(
            late, store, threshold=0.5, update_store=False, store_index=idx
        ).collect()
    }
    assert (300, 400) in got


def test_signature_store_index_rejects_banding_mismatch(spark, tmp_path):
    """A store_index built for one (num_hashes, bands) must be refused
    by a probe with another: mismatched band keys would 'positively'
    prune files holding real collisions — silent pair loss. The check
    compares the index's persisted bloom expression against the one
    this call would generate."""
    from ariadne_spark.operators import dedup as dd

    spark.conf.set(
        "spark.ariadne.storagePath", str(tmp_path / "ariadne_store")
    )
    store = str(tmp_path / "sigstore")
    docs = spark.createDataFrame(
        [(i, f"some shared text body number {i}") for i in range(8)],
        ["doc_id", "text"],
    )
    dd.signature_store_write(
        dd.minhash_signatures_fast(docs, "text", "doc_id"), store,
        mode="overwrite",
    )
    idx = dd.signature_store_index(spark, store, "sigstore_mismatch_test")
    batch = spark.createDataFrame(
        [(100, "some shared text body number 3 ")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="band"):
        dd.incremental_near_dup(
            batch, store, bands=16, update_store=False, store_index=idx
        )
    # matching params still work
    assert (
        dd.incremental_near_dup(
            batch, store, threshold=0.5, update_store=False, store_index=idx
        ).count()
        >= 0
    )


def test_signature_store_index_mismatch_rejected_on_empty_store(
    spark, tmp_path
):
    """r10 (ADVICE): the banding-compat check runs BEFORE the history
    read, so a mismatched store_index is rejected on the very first
    call of a pipeline — when the store is still empty — instead of
    passing silently and only failing once history exists."""
    from ariadne_spark.operators import dedup as dd

    spark.conf.set(
        "spark.ariadne.storagePath", str(tmp_path / "ariadne_store")
    )
    store = str(tmp_path / "sigstore_real")
    docs = spark.createDataFrame(
        [(i, f"some shared text body number {i}") for i in range(4)],
        ["doc_id", "text"],
    )
    dd.signature_store_write(
        dd.minhash_signatures_fast(docs, "text", "doc_id"), store,
        mode="overwrite",
    )
    idx = dd.signature_store_index(spark, store, "sigstore_empty_test")
    batch = spark.createDataFrame([(9, "fresh text")], ["doc_id", "text"])
    empty_store = str(tmp_path / "sigstore_empty")  # never written
    with pytest.raises(ValueError, match="band"):
        dd.incremental_near_dup(
            batch, empty_store, bands=16, update_store=False,
            store_index=idx,
        )


@pytest.mark.slow
def test_signature_store_index_survives_compaction(spark, tmp_path):
    """Store compaction rewrites part files: the next index refresh
    must index the new files, DROP the replaced ones from the index
    (r09 dead-file cleanup), and keep pruning exact."""
    from pyspark.sql import functions as F

    from ariadne_spark.operators import dedup as dd

    spark.conf.set(
        "spark.ariadne.storagePath", str(tmp_path / "ariadne_store")
    )
    store = str(tmp_path / "sigstore")
    base = "the quick brown fox jumps over the lazy dog again and again"
    for b in range(3):
        docs = spark.createDataFrame(
            [(b * 10 + i, f"{base} batch {b} doc {i}") for i in range(5)],
            ["doc_id", "text"],
        )
        dd.signature_store_write(
            dd.minhash_signatures_fast(docs, "text", "doc_id"), store,
            mode="append" if b else "overwrite",
        )
    idx = dd.signature_store_index(spark, store, "sigstore_compact_test")
    n_before = len(idx.filelist.filenames())
    assert n_before == len(dd._snapshot_files(spark, store, "signature"))

    dd.signature_store_compact(spark, store, rows_per_file=1000)
    after = dd._snapshot_files(spark, store, "signature")
    assert set(after).isdisjoint(set(idx.filelist.filenames()))

    idx = dd.signature_store_index(spark, store, "sigstore_compact_test")
    from ariadne_spark.sources.files import normalize_path

    assert sorted(idx.filelist.filenames()) == sorted(
        normalize_path(f) for f in after
    )  # replaced files dropped, new files indexed

    batch = spark.createDataFrame(
        [(900, base + " batch 1 doc 2 ")], ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.incremental_near_dup(
            batch, store, threshold=0.5, update_store=False, store_index=idx
        ).collect()
    }
    assert (12, 900) in got


def test_incremental_substring_orphan_store_fails_loudly(spark, tmp_path):
    import os

    from ariadne_spark.operators import dedup as dd

    store = str(tmp_path / "winstore")
    d = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    dd.incremental_substring_dedup(d, store, k=3)
    os.rename(store, store + ".__old")  # simulate crash mid-compact
    with pytest.raises(OSError, match="__old"):
        dd.incremental_substring_dedup(d, store, k=3)


def test_image_resize_identity_downscale_and_phash_robustness(spark):
    """Real resize (r07): identity targets reproduce the original
    blob BYTE-exactly; a real downscale emits decodable images at the
    target dims with interpolated content; a resized copy pairs with
    its original under pHash (the advertised resize robustness);
    corrupt blobs and NULL per-row targets yield NULL rows."""
    import numpy as np

    rng = np.random.RandomState(3)
    # LOW-frequency texture (random 6x5 blobs bilinearly upsampled):
    # pHash robustness is a statement about structured images — white
    # noise has no stable low-frequency spectrum to preserve
    small = rng.randint(0, 256, (6, 5, 3)).astype(np.float64)
    base = np.stack(
        [
            np.clip(
                np.rint(multimodal._resize_bilinear(small[:, :, c], 24, 20)),
                0, 255,
            )
            for c in range(3)
        ],
        axis=2,
    ).astype(np.uint8)
    blob = bytearray(b"P6\n20 24\n255\n" + base.tobytes())
    df = spark.createDataFrame(
        [(1, blob), (2, bytearray(b"nonsense"))], "doc_id long, media binary"
    )

    # identity: byte-exact round-trip
    ident = multimodal.image_resize(df, 20, 24).collect()
    by_id = {r["doc_id"]: r for r in ident}
    assert bytes(by_id[1]["media"]) == bytes(blob)
    assert by_id[2]["media"] is None and by_id[2]["resized_width"] is None

    # downscale: decodable at target dims, mean in byte range
    down = multimodal.image_resize(df, 10, 12)
    feats = multimodal.decode_media(
        down.where(F.col("media").isNotNull()),
        "media", codec="ppm", batch_cols=["doc_id"],
    ).collect()[0]
    assert (feats["decoded_width"], feats["decoded_height"]) == (10, 12)
    assert 0 <= feats["mean_byte"] <= 255

    # pHash pairs the downscaled copy with the original
    resized_clone = (
        multimodal.image_resize(
            df.where(F.col("doc_id") == 1), 16, 18
        ).select((F.col("doc_id") + 10).alias("doc_id"), "media")
    )
    both = df.where(F.col("doc_id") == 1).select("doc_id", "media").unionByName(
        resized_clone
    )
    # a resize moves a handful of near-median DCT bits (measured 6
    # here); the standard pHash dedup radius for re-encodes/resizes
    # is ~10 of 64 — unrelated random images sit near 32
    pairs = {
        (r["id_a"], r["id_b"])
        for r in multimodal.image_near_dup(
            both, "media", "doc_id", codec="ppm", max_hamming=10
        ).collect()
    }
    assert (1, 11) in pairs

    # per-row targets: NULL target -> NULL row, valid target resizes
    tdf = spark.createDataFrame(
        [(1, blob, 8, 6), (2, blob, None, 6)],
        "doc_id long, media binary, tw int, th int",
    )
    out = {r["doc_id"]: r for r in multimodal.image_resize(tdf, "tw", "th").collect()}
    assert out[1]["resized_width"] == 8 and out[1]["media"] is not None
    assert out[2]["media"] is None and out[2]["resized_width"] is None


def test_frame_sample_real_decode_ticks_and_corrupt_policy(spark):
    """Real frame sampling: each every_ms tick maps to the covering
    frame (index = ts // frame_ms) with that frame's true pixel mean;
    a clip shorter than one tick still emits its t=0 frame; corrupt
    blobs emit no rows."""
    import numpy as np

    from ariadne_spark.operators import multimodal as mm

    def vid(w, h, frames, fms):
        hdr = f"VID0{w:06d}{h:06d}{len(frames):06d}{fms:06d}".encode()
        return bytearray(hdr + b"".join(f.tobytes() for f in frames))

    f0 = np.full(2 * 2 * 3, 10, dtype=np.uint8)
    f1 = np.full(2 * 2 * 3, 200, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (1, vid(2, 2, [f0, f1], 500)),   # 1000 ms clip
            (2, vid(2, 2, [f1], 100)),       # 100 ms clip: one t=0 tick
            (3, bytearray(b"junk")),
        ],
        "doc_id long, media binary",
    )
    rows = mm.frame_sample(df, every_ms=400, batch_cols=["doc_id"]).collect()
    got = {(r["doc_id"], r["frame_ts_ms"]): r for r in rows}
    # doc 1: ticks 0,400 cover frame 0; tick 800 covers frame 1
    assert got[(1, 0)]["frame_index"] == 0
    assert got[(1, 0)]["frame_mean_byte"] == 10.0
    assert got[(1, 400)]["frame_index"] == 0
    assert got[(1, 800)]["frame_index"] == 1
    assert got[(1, 800)]["frame_mean_byte"] == 200.0
    assert got[(2, 0)]["frame_mean_byte"] == 200.0
    assert all(r["doc_id"] != 3 for r in rows)
    assert len(rows) == 4


def test_audio_resample_identity_ratechange_and_policies(spark):
    """Real audio resample: identity rate is byte-exact; a real rate
    change preserves duration while scaling the frame count; corrupt
    blobs and NULL per-row targets yield NULL rows."""
    import numpy as np

    from ariadne_spark.operators import multimodal as mm

    t = np.arange(800)
    wave = (1000 * np.sin(2 * np.pi * 50 * t / 8000)).astype("<i2")
    blob = bytearray(mm._encode_wav(wave.reshape(-1, 1), 8000))
    df = spark.createDataFrame(
        [(1, blob), (2, bytearray(b"not audio"))], "doc_id long, media binary"
    )

    ident = {r["doc_id"]: r for r in mm.audio_resample(df, 8000).collect()}
    assert bytes(ident[1]["media"]) == bytes(blob)
    assert ident[2]["media"] is None and ident[2]["resampled_rate"] is None

    down = {r["doc_id"]: r for r in mm.audio_resample(df, 4000).collect()}
    assert down[1]["resampled_frames"] == 400
    feats = mm.decode_audio(
        mm.audio_resample(df, 4000).where(F.col("media").isNotNull()),
        "media", codec="wav", batch_cols=["doc_id"],
    ).collect()[0]
    assert feats["sample_rate_hz"] == 4000
    assert feats["duration_ms"] == 100.0  # 800/8000 == 400/4000
    # a 50 Hz tone resampled 2x down keeps its RMS shape (~707)
    assert abs(feats["rms"] - 707) < 30

    tdf = spark.createDataFrame(
        [(1, blob, 16000), (2, blob, None)],
        "doc_id long, media binary, tr int",
    )
    out = {r["doc_id"]: r for r in mm.audio_resample(tdf, "tr").collect()}
    assert out[1]["resampled_rate"] == 16000 and out[1]["resampled_frames"] == 1600
    assert out[2]["media"] is None


def test_diversity_sample_balanced_deterministic(spark, emb):
    """Per-cell cap holds, every non-empty cell is represented, the
    draw is repartition-stable, and dense regions cannot crowd out
    sparse ones (each cell contributes min(cell size, n))."""
    from ariadne_spark.operators.similarity import diversity_sample

    out = diversity_sample(emb, n_per_cell=3, n_cells=16).cache()
    per = {r["cell"]: r["count"] for r in out.groupBy("cell").count().collect()}
    assert per and all(c <= 3 for c in per.values())
    # quota rule: exactly min(cell_size, 3) from every cell
    from ariadne_spark.operators.similarity import (
        _centroids, _nearest_centroids_udf,
    )
    from pyspark.sql import functions as F2
    cents = _centroids(emb, "vec_id", "embedding", 16)
    assign = _nearest_centroids_udf(cents, 1)
    sizes = {
        r["cell"]: r["count"]
        for r in emb.withColumn(
            "cell", F2.element_at(assign(F2.col("embedding")), 1)
        ).groupBy("cell").count().collect()
    }
    assert per == {c: min(n, 3) for c, n in sizes.items()}
    again = diversity_sample(emb.repartition(7), n_per_cell=3, n_cells=16)
    assert rows_set(out.select("vec_id")) == rows_set(again.select("vec_id"))
    out.unpersist()


def test_diversity_sample_kmeans_variant_runs(spark, emb):
    from ariadne_spark.operators.similarity import diversity_sample

    out = diversity_sample(emb, n_per_cell=5, n_cells=8, centroids="kmeans")
    per = out.groupBy("cell").count().collect()
    assert per and all(r["count"] <= 5 for r in per)


def test_bitext_mine_recovers_planted_pairs_and_demotes_hub(spark):
    """Planted parallel pairs: tgt i is a tiny rotation of src i, so
    the miner must align i<->i. A hub vector (near-mean of everything)
    attracts high raw cosine from every source, but the ratio margin
    normalizes its neighborhood away — no source may pick the hub
    over its planted twin."""
    import math
    import random

    from ariadne_spark.operators.similarity import bitext_mine

    rng = random.Random(7)
    dim = 16
    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    srcs = [(i, unit()) for i in range(20)]
    # planted twins: tgt i = src i + small noise
    tgts = []
    for i, v in srcs:
        w = [x + rng.gauss(0, 0.01) for x in v]
        tgts.append((i, w))
    # hub: the normalized mean of all sources — closest-to-everything
    mean = [sum(v[d] for _, v in srcs) for d in range(dim)]
    tgts.append((999, mean))
    src = spark.createDataFrame(srcs, "src_id bigint, embedding array<double>")
    tgt = spark.createDataFrame(tgts, "tgt_id bigint, embedding array<double>")
    got = {r["src_id"]: r for r in bitext_mine(src, tgt, k=4, threshold=1.0).collect()}
    assert len(got) == 20
    for i in range(20):
        assert got[i]["tgt_id"] == i, (i, got[i])
        assert got[i]["margin"] > 1.0


def test_bitext_mine_string_ids_tie_order(spark):
    """Ids may be strings (review finding: the old negated-id
    tie-break would CAST-fail under ANSI or invert the order): two
    identical targets force a margin tie that must break toward the
    lexicographically smaller target id."""
    from ariadne_spark.operators.similarity import bitext_mine

    v = [1.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0]
    src = spark.createDataFrame(
        [("s-1", v)], "src_id string, embedding array<double>"
    )
    tgt = spark.createDataFrame(
        [("t-b", v), ("t-a", v), ("t-z", w)],
        "tgt_id string, embedding array<double>",
    )
    got = bitext_mine(src, tgt, k=2, threshold=0.0).collect()
    assert len(got) == 1 and got[0]["tgt_id"] == "t-a"


def test_diversity_sample_rejects_unknown_centroids_mode(spark, emb):
    from ariadne_spark.operators.similarity import diversity_sample

    with pytest.raises(ValueError):
        diversity_sample(emb, n_per_cell=2, n_cells=4, centroids="kmean")


def _cosine_scores_expr(corpus, queries, corpus_id="vec_id",
                       query_id="query_id", vec_col="embedding"):
    """Parity oracle for the Arrow scorer: the per-pair JVM expression
    form (broadcast crossJoin, per-pair array fold). Norms are folded
    per ROW before the join, exactly as the scorer folds them."""
    from ariadne_spark.operators.similarity import _dot, _norm

    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    sim = _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
    return c.crossJoin(F.broadcast(q)).select(
        F.col(query_id), F.col(corpus_id), sim.alias("cosine")
    )


def test_cosine_scores_arrow_matches_expression_exactly(spark, emb):
    """cosine_scores/cosine_topk score every query side through one
    Arrow-batched scorer (one mapInPandas scan, queries grouped by
    dimension plus a NULL group). The contract is BIT-identical floats
    — pin repr-level equality against the expression oracle on fixture
    data plus every corpus edge class (null vector, ragged dim, null
    element, NaN element) and every query edge class (NULL vector,
    null element, mixed dimensions, empty vector, NaN and inf
    elements, an empty query set)."""
    from pyspark.sql import Window

    from ariadne_spark.operators.similarity import cosine_scores, cosine_topk

    dim = len(emb.select("embedding").first()[0])
    vtype = "query_id long, embedding array<double>"
    queries = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>"),
    ).unionByName(spark.createDataFrame(
        [
            (-1, None),                          # NULL vector -> NULL
            (-2, [0.5] + [None] * (dim - 1)),    # null element -> NULL
            (-3, [0.25] * (dim - 1)),            # second dimension
            (-4, []),                            # empty vector -> NULL
            (-5, [float("nan")] + [1.0] * (dim - 1)),  # NaN cosines
            (-6, [float("inf")] + [0.5] * (dim - 1)),  # inf element
        ],
        vtype,
    ))
    edge = spark.createDataFrame(
        [
            (900001, None),                     # null vector -> NULL cosine
            (900002, [1.0] * (dim - 1)),        # ragged dim: scores the
            (900006, [2.0, -1.0] + [0.5] * (dim - 3)),  # dim-1 query only
            (900003, [1.0] + [None] * (dim - 1)),  # null element -> NULL
            (900004, [float("nan")] + [1.0] * (dim - 1)),  # NaN cosine
        ],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>")).unionByName(edge)

    def canon(df):
        return sorted(
            (r["query_id"], r["vec_id"], repr(r["cosine"]))
            for r in df.collect()
        )

    def oracle_topk(qs, k):
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc()
        )
        return (
            _cosine_scores_expr(corpus, qs)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"))
        )

    got = canon(cosine_scores(corpus, queries))
    assert got == canon(_cosine_scores_expr(corpus, queries))
    assert {c for q, _, c in got if q in (-1, -2, -4)} == {"None"}
    assert any(q == -3 and c != "None" for q, _, c in got)

    topk_got = canon(cosine_topk(corpus, queries, k=7).select(
        "query_id", "vec_id", "cosine"))
    assert topk_got == canon(oracle_topk(queries, 7))

    none = queries.where(F.lit(False))
    empty = cosine_scores(corpus, none)
    assert empty.columns == ["query_id", "vec_id", "cosine"]
    assert canon(empty) == canon(_cosine_scores_expr(corpus, none)) == []
    assert canon(cosine_topk(corpus, none, k=3).select(
        "query_id", "vec_id", "cosine")) == canon(oracle_topk(none, 3)) == []


def test_cosine_scores_zero_norm_and_id_clash(spark, emb):
    """Outside the oracle's domain: a zero-norm vector on either side
    scores IEEE 0/0 = NaN, where the expression form's ANSI double
    divide raises DIVIDE_BY_ZERO; and corpus_id == query_id, which
    the expression form cannot resolve, is refused up front."""
    from ariadne_spark.operators.similarity import cosine_scores, cosine_topk

    dim = len(emb.select("embedding").first()[0])
    queries = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    zero = spark.createDataFrame(
        [(900005, [0.0] * dim)], "vec_id long, embedding array<double>"
    )
    got = [repr(r["cosine"]) for r in cosine_scores(zero, queries).collect()]
    assert len(got) == queries.count() and set(got) == {"nan"}
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _cosine_scores_expr(zero, queries).collect()

    zq = spark.createDataFrame([(7, [0.0] * dim)], "query_id long, embedding array<double>")
    got = [repr(r["cosine"]) for r in cosine_scores(emb, zq).collect()]
    assert len(got) == emb.count() and set(got) == {"nan"}
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _cosine_scores_expr(emb, zq).collect()

    same = queries.withColumnRenamed("query_id", "vec_id")
    with pytest.raises(ValueError, match="must differ"):
        cosine_scores(emb, same, query_id="vec_id")
    with pytest.raises(ValueError, match="must differ"):
        cosine_topk(emb, same, query_id="vec_id")
