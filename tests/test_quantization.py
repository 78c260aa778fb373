"""Product quantization: determinism, planted exactness, convergence
to the exact ranking, partition independence — plus the round-6
composite operators (Gopher filter, mixture report, kNN classify)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ariadne_spark.operators.quantization import (
    pq_ann_topk,
    pq_ann_topk_rerank,
    pq_encode,
    pq_train,
)
from ariadne_spark.operators.similarity import cosine_topk, knn_classify
from ariadne_spark.operators.text import gopher_filter
from ariadne_spark.operators.corpus import mix_report

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def books(emb):
    return pq_train(emb, m=8, k=16, iters=3)


def test_pq_train_deterministic(emb, books):
    # same session + same partitioning: shuffle-merge order of the
    # float64 partial sums is stable here, so the codebooks repeat
    # bit-for-bit. Across partitionings the claim weakens to
    # ulp-stability (module docstring) — gates never depend on it.
    again = pq_train(emb, m=8, k=16, iters=3)
    assert books.shape == (8, 16, 8)
    assert np.array_equal(books, again)


def test_pq_encode_clones_get_identical_codes(spark, emb, books):
    clones = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    both = pq_encode(emb.unionByName(clones), books)
    a = {r["vec_id"]: tuple(r["pq_code"]) for r in both.collect()}
    for vid in list(a):
        if vid >= 10_000:
            assert a[vid] == a[vid - 10_000]
    # codes are within range and full length
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in a.values())


def test_pq_adc_self_hit_rank1(emb, books):
    codes = pq_encode(emb, books)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top1 = pq_ann_topk(codes, q, books, k=1).collect()
    # every query is itself in the corpus: identical code -> adc ties
    # at the minimum, tie-break by id can only prefer an EXACT code
    # twin; on this corpus each vector's code is unique enough that
    # the self-hit wins outright
    assert all(r["query_id"] == r["vec_id"] for r in top1)


def test_pq_rerank_converges_to_exact(emb, books):
    codes = pq_encode(emb, books)
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = emb.count()
    exact = sorted(
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in cosine_topk(emb, q, k=10).collect()
    )
    rr = sorted(
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in pq_ann_topk_rerank(
            codes, emb, q, books, k=10, shortlist=n
        ).collect()
    )
    assert rr == exact


def test_pq_partition_independence(emb, books):
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = []
    for parts in (1, 7):
        codes = pq_encode(emb.repartition(parts), books)
        out.append(
            sorted(
                (r["query_id"], r["vec_id"], r["rank"], r["adc"])
                for r in pq_ann_topk(codes, q, books, k=10).collect()
            )
        )
    assert out[0] == out[1]


def test_pq_dim_not_divisible_raises(emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=7, k=8, iters=1)


def test_pq_rerank_beats_raw_adc_recall(emb, books):
    codes = pq_encode(emb, books)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, q, k=10).collect()
    }
    adc = {
        (r["query_id"], r["vec_id"])
        for r in pq_ann_topk(codes, q, books, k=10).collect()
    }
    rr = {
        (r["query_id"], r["vec_id"])
        for r in pq_ann_topk_rerank(
            codes, emb, q, books, k=10, shortlist=100
        ).collect()
    }
    adc_recall = len(adc & exact) / len(exact)
    rr_recall = len(rr & exact) / len(exact)
    assert rr_recall >= adc_recall
    # m=8 codebooks on near-random 64-dim data: the shortlist holds
    # most of the exact set; exact convergence is pinned separately in
    # test_pq_rerank_converges_to_exact
    assert rr_recall >= 0.75


# ------------------------------------------------------- gopher filter


def test_gopher_filter_rules_fire_individually(spark):
    rows = [
        (1, "the quick brown fox jumps over that lazy dog with glee today"),
        (2, "too few"),  # few_words
        (3, "the of " + "a b c " * 20),  # short_words (mean < 3)
        (4, "the extraordinarily incomprehensibilities of hippopotomonstrous"
            " sesquipedalianism that notwithstanding overqualification with"),  # long_words
        (5, "the cat of hat # # # # sat with mat that bat"),  # symbol_ratio
        (6, "the 123 456 789 012 345 of 678 901 that 234 with"),  # low_alpha
        (7, "zebra quokka wombat numbat dingo bilby koala emu taipan"),  # few_stopwords
        (8, "the spam spam spam spam spam of spam spam that spam with spam"),  # repeated_top_word
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in gopher_filter(df).collect()}
    assert got[1]["keep"] and got[1]["failed_rules"] == []
    assert "few_words" in got[2]["failed_rules"]
    assert "short_words" in got[3]["failed_rules"]
    assert "long_words" in got[4]["failed_rules"]
    assert "symbol_ratio" in got[5]["failed_rules"]
    assert "low_alpha" in got[6]["failed_rules"]
    assert "few_stopwords" in got[7]["failed_rules"]
    assert "repeated_top_word" in got[8]["failed_rules"]


def test_gopher_filter_threshold_params(spark):
    df = spark.createDataFrame(
        [(1, "the little dog ran to the big park and sat with joy")],
        ["doc_id", "text"],
    )
    strict = gopher_filter(df, min_words=50).collect()[0]
    assert "few_words" in strict["failed_rules"] and not strict["keep"]
    loose = gopher_filter(df).collect()[0]
    assert loose["keep"]


def test_gopher_filter_is_single_stage(docs):
    # per-row projection: no exchange in the plan
    plan = gopher_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------- mix report


def test_mix_report_shares_sum_to_le_1m(docs):
    rows = mix_report(docs).collect()
    total_ppm = sum(r["token_share_ppm"] for r in rows)
    # integer floor division: sum is <= 1e6, within one ppm per group
    assert 1_000_000 - len(rows) <= total_ppm <= 1_000_000
    tok = sum(r["n_tokens"] for r in rows)
    docs_n = sum(r["n_docs"] for r in rows)
    assert docs_n == docs.count() and tok > 0


def test_mix_report_single_scan(docs):
    # the grand total must come from the aggregated frame, not a
    # second corpus scan (caught in the round-6 plan audit)
    plan = mix_report(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_mix_report_custom_group(docs):
    rows = mix_report(docs, group_cols=("lang",)).collect()
    assert {r["lang"] for r in rows} == {
        r["lang"] for r in docs.select("lang").distinct().collect()
    }


# --------------------------------------------------------- kNN classify


def test_knn_classify_separated_clusters(spark):
    # three well-separated clusters: every held-out vector classifies
    # to its cluster's label with k=5 majority
    import itertools

    base = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    rows = []
    for label, c in base.items():
        for i in range(8):
            v = [c[0] + (i % 3) * 0.1, c[1] + (i % 2) * 0.1, c[2] + i * 0.01]
            rows.append((label * 100 + i, v, label))
    ref = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = spark.createDataFrame(
        [(900 + l, [c[0] + 0.05, c[1] + 0.05, c[2]], l) for l, c in base.items()],
        ["query_id", "embedding", "label"],
    )
    out = {r["query_id"]: r for r in knn_classify(ref, q, k=5).collect()}
    for l in base:
        assert out[900 + l]["pred_label"] == l
        assert out[900 + l]["votes"] == 5


def test_knn_classify_vote_tie_breaks_to_smaller_label(spark):
    # two clusters equidistant-ish: force a 2-2 tie with k=4
    ref = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 5),
            (2, [1.0, 0.01], 5),
            (3, [0.0, 1.0], 3),
            (4, [0.01, 1.0], 3),
        ],
        ["vec_id", "embedding", "label"],
    )
    q = spark.createDataFrame([(9, [1.0, 1.0])], ["query_id", "embedding"])
    out = knn_classify(ref, q, k=4).collect()[0]
    assert out["pred_label"] == 3 and out["votes"] == 2


def test_knn_classify_matches_numpy(emb):
    ref = emb.where(F.col("vec_id") % 11 != 0)
    q = emb.where(F.col("vec_id") % 11 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {r["query_id"]: (r["pred_label"], r["votes"])
           for r in knn_classify(ref, q, k=15).collect()}

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.stack([np.array(r["embedding"]) for r in rows])
    y = np.array([r["label"] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    qm = ids % 11 == 0
    import collections

    for qi in np.where(qm)[0]:
        sims = Xn[~qm] @ Xn[qi]
        rid = ids[~qm]
        order = np.lexsort((rid, -sims))[:15]
        votes = collections.Counter(y[~qm][order])
        pred = min(votes, key=lambda l: (-votes[l], l))
        assert got[int(ids[qi])] == (pred, votes[pred])


# ----------------------------------------------------- IVF+PQ composed


@pytest.mark.slow
def test_ivf_pq_index_full_shortlist_matches_ivf_index(spark, emb, storage, tmp_path):
    """With shortlist >= the probed population, the composed path is
    exactly ivf_index_topk: same deterministic cells, exact rerank
    within them."""
    from ariadne_spark.operators.quantization import (
        ivf_pq_index_build,
        ivf_pq_topk,
    )
    from ariadne_spark.operators.similarity import ivf_index_build, ivf_index_topk

    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx1, cents = ivf_index_build(
        emb, f"{tmp_path}/ivf", "tq_ivf_plain", n_centroids=16, n_files=8
    )
    want = sorted(
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in ivf_index_topk(idx1, cents, q, k=5, n_probe=4).collect()
    )
    idx2, sidecar = ivf_pq_index_build(
        emb, f"{tmp_path}/ivfpq", "tq_ivf_pq",
        n_centroids=16, n_files=8, m=8, k_codes=16, iters=2,
    )
    n = emb.count()
    got = sorted(
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in ivf_pq_topk(
            idx2, sidecar, q, k=5, n_probe=4, shortlist=n
        ).collect()
    )
    assert got == want


def test_ivf_pq_prunes_files_and_recalls(spark, emb, storage, tmp_path):
    from ariadne_spark.operators.quantization import (
        ivf_pq_index_build,
        ivf_pq_topk,
    )

    idx, sidecar = ivf_pq_index_build(
        emb, f"{tmp_path}/ivfpq2", "tq_ivf_pq2",
        n_centroids=16, n_files=8, m=8, k_codes=16, iters=2,
    )
    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # a 4/16-cell probe must locate a strict subset of the files
    from ariadne_spark.operators.similarity import _nearest_centroids_udf
    import json as _json
    from ariadne_spark.storage.fs import get_fs, read_json

    blob = read_json(get_fs(spark, sidecar), sidecar)
    cents = np.array(blob["centroids"])
    probe = _nearest_centroids_udf(cents, 4)
    cells = sorted(
        {
            c
            for r in q.select(probe(F.col("embedding")).alias("cs")).collect()
            for c in r["cs"]
        }
    )
    located = idx.locate_files({"ivf_cell": cells})
    all_files = idx.locate_files({})
    assert len(located) < len(all_files)

    out = ivf_pq_topk(idx, sidecar, q, k=5, n_probe=4, shortlist=100).collect()
    # self-hit: each query is in the corpus and probes its own cell
    top1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1}


@pytest.mark.slow
def test_ivf_pq_shortlist_persist_released_on_next_call(
    spark, emb, storage, tmp_path
):
    """The persisted shortlist from call N is unpersisted by call N+1
    (bounded-lifetime ledger), and the repeat call's results are
    unchanged."""
    from ariadne_spark.operators import quantization as Q

    idx, sidecar = Q.ivf_pq_index_build(
        emb, f"{tmp_path}/ivfpq3", "tq_ivf_pq3",
        n_centroids=16, n_files=8, m=8, k_codes=16, iters=2,
    )
    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    first = sorted(
        map(tuple, Q.ivf_pq_topk(idx, sidecar, q, k=5, n_probe=4).collect())
    )
    # r11: the ledger holds the call's cached frames — the persisted
    # ADC candidates, plus the windowed cut when the shortlist bound
    # binds — never more
    held = list(Q._IVF_PQ_LIVE)
    assert 1 <= len(held) <= 2
    assert all(h.storageLevel.useMemory for h in held)
    second = sorted(
        map(tuple, Q.ivf_pq_topk(idx, sidecar, q, k=5, n_probe=4).collect())
    )
    # call 2 released ALL of call 1's frames and registered its own
    assert Q._IVF_PQ_LIVE and all(
        live is not h for live in Q._IVF_PQ_LIVE for h in held
    )
    assert all(not h.storageLevel.useMemory for h in held)
    assert second == first


# ------------------------------------------------------------ edges


def test_new_ops_empty_inputs(spark, emb, books):
    from ariadne_spark.operators.quantization import pq_ann_topk

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    assert gopher_filter(empty_docs).count() == 0
    empty_mix = spark.createDataFrame(
        [], "doc_id bigint, text string, source string, lang string"
    )
    assert mix_report(empty_mix).count() == 0
    # kNN with empty query side: empty result, stable schema
    eq = spark.createDataFrame([], "query_id bigint, embedding array<double>")
    out = knn_classify(emb, eq, k=5)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "pred_label", "votes"}
    # PQ ANN declares queries as the non-empty small side
    codes = pq_encode(emb.limit(10), books)
    with pytest.raises(ValueError, match="queries is empty"):
        pq_ann_topk(codes, eq.withColumnRenamed("embedding", "embedding"), books)


def test_gopher_filter_null_and_whitespace_text(spark):
    df = spark.createDataFrame(
        [(1, "   "), (2, "the of and to that have with a b c d")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in gopher_filter(df).collect()}
    # whitespace-only: the trim+split convention yields one empty
    # token -> n_words=1 -> fails few_words (and others), never errors
    assert not got[1]["keep"] and "few_words" in got[1]["failed_rules"]
    assert got[2]["n_words"] == 11


def test_select_top_n_deterministic_and_take_ordered(spark, docs):
    from ariadne_spark.operators.corpus import select_top_n

    scored = docs.select("doc_id", (F.col("doc_id") % 7).alias("score"))
    a = [r["doc_id"] for r in select_top_n(scored, 20, by="score").collect()]
    b = [
        r["doc_id"]
        for r in select_top_n(scored.repartition(13), 20, by="score").collect()
    ]
    assert a == b and len(a) == 20
    # all selected scores >= every unselected score (top-n semantics)
    cutoff = min(r % 7 for r in a)
    rest = scored.where(~F.col("doc_id").isin(a)).agg(
        F.max("score")
    ).collect()[0][0]
    assert rest <= cutoff
    # Catalyst compiles to TakeOrdered (per-task heaps), not a global sort
    plan = (
        select_top_n(scored, 20, by="score")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


@pytest.mark.slow
def test_dedup_against_indexed_matches_plain_and_prunes(spark, docs, storage, tmp_path):
    from ariadne_spark.operators.corpus import (
        dedup_against,
        dedup_against_indexed,
        fingerprint_index,
    )

    ref = docs.where(F.col("source") == "src0")
    batch = docs.where(F.col("source") != "src0")
    # toy store: drop the 32 MiB probe-cost floor so the bloom runs
    spark.conf.set("spark.ariadne.minBloomPruneBytes", "0")
    idx = fingerprint_index(
        ref, f"{tmp_path}/fpidx", "tq_fp_idx", n_files=8
    )
    want = sorted(r["doc_id"] for r in dedup_against(batch, ref).collect())
    got = sorted(
        r["doc_id"] for r in dedup_against_indexed(batch, idx).collect()
    )
    assert got == want
    # a SINGLE novel document's fingerprint should prune most files
    novel = spark.createDataFrame(
        [(999_999, "completely novel text that matches nothing at all")],
        ["doc_id", "text"],
    )
    out = dedup_against_indexed(novel, idx)
    assert out.count() == 1  # novel -> kept
    pc = idx._last_locate_stats.per_column["fingerprint"]
    assert not pc.get("skipped")  # the bloom probe actually ran
    # and the located file set for a novel fingerprint is a strict
    # subset of the reference files (bloom prune, fpr=0.01 over 8)
    import hashlib

    fp = hashlib.md5(
        b"completely novel text that matches nothing at all"
    ).hexdigest()
    located = idx.locate_files({"fingerprint": [fp]})
    assert len(located) < len(idx.locate_files({}))


# ------------------------------------------- r06 review regressions


def test_pq_ann_ties_partition_independent_with_clones(spark, emb, books):
    # exact clones share codes -> ADC ties everywhere; the kept set
    # must still be the (adc, id) contract winner under any layout
    clones = emb.select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding", "label"
    )
    union = emb.unionByName(clones)
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    outs = []
    for parts in (1, 5, 16):
        codes = pq_encode(union.repartition(parts), books)
        outs.append(
            sorted(
                (r["query_id"], r["vec_id"], r["rank"])
                for r in pq_ann_topk(codes, q, books, k=10).collect()
            )
        )
    assert outs[0] == outs[1] == outs[2]
    # the clone pair of the query ties at adc=0 with the original:
    # smaller id (the original) must hold rank 1
    top1 = {qid: vid for qid, vid, rk in outs[0] if rk == 1}
    assert all(vid == qid for qid, vid in top1.items())


def test_pq_ann_null_embeddings_skipped_not_crashed(spark, emb, books):
    from pyspark.sql import types as T

    null_row = spark.createDataFrame(
        [(9_999_999, None, 0)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
                T.StructField("label", T.LongType()),
            ]
        ),
    )
    union = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    ).unionByName(null_row)
    codes = pq_encode(union, books)
    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_ann_topk(codes, q, books, k=5).collect()
    assert len(out) == 10
    assert all(r["vec_id"] != 9_999_999 for r in out)


def test_knn_classify_string_labels_tie_break(spark):
    ref = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "dog"),
            (2, [1.0, 0.01], "dog"),
            (3, [0.0, 1.0], "cat"),
            (4, [0.01, 1.0], "cat"),
        ],
        ["vec_id", "embedding", "label"],
    )
    q = spark.createDataFrame([(9, [1.0, 1.0])], ["query_id", "embedding"])
    out = knn_classify(ref, q, k=4).collect()[0]
    # 2-2 vote tie: the smaller label wins ("cat" < "dog")
    assert out["pred_label"] == "cat" and out["votes"] == 2


def test_gopher_stopwords_across_newlines_kept(spark):
    # required stop words separated by newlines/tabs must still count
    df = spark.createDataFrame(
        [(1, "the\nlittle of\tthe park and that dog sat with joy here")],
        ["doc_id", "text"],
    )
    got = gopher_filter(df).collect()[0]
    assert "few_stopwords" not in got["failed_rules"]


def test_max_run_count_matches_naive(spark):
    from ariadne_spark.operators.text import max_run_count, tokens

    rows = [
        (1, "a b a c a b"),
        (2, "x"),
        (3, "z z z z"),
        (4, "p q r s"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["top"]
        for r in df.select(
            "doc_id", max_run_count(tokens("text")).alias("top")
        ).collect()
    }
    assert got == {1: 3, 2: 1, 3: 4, 4: 1}


def test_nb_log_scores_keeps_short_docs(spark):
    from ariadne_spark.operators.classifier import mass_train, nb_log_scores

    train = spark.createDataFrame(
        [(1, "aa bb cc", "x"), (2, "dd ee ff", "y")],
        ["doc_id", "text", "label"],
    )
    model = mass_train(train, label_col="label", n=2)
    short = spark.createDataFrame([(9, "one")], ["doc_id", "text"])  # < n tokens
    out = nb_log_scores(short, model, label_col="label", n=2).collect()
    assert {(r["doc_id"], r["label"], r["log_score"]) for r in out} == {
        (9, "x", 0.0),
        (9, "y", 0.0),
    }


def test_pq_rerank_binding_shortlist_matches_old_composition(emb, books):
    """r11: pq_ann_topk_rerank persists the ADC candidates and skips
    the rank window when the shortlist bound cannot bind. When it DOES
    bind (shortlist < per-query candidates), the kept set and the
    final reranked rows must equal the pre-r11 composition:
    pq_ann_topk(k=shortlist) -> exact cosine rerank."""
    from pyspark.sql import Window

    from ariadne_spark.operators.quantization import _IVF_PQ_LIVE
    from ariadne_spark.operators.similarity import _dot, _norm

    codes = pq_encode(emb.repartition(7), books)
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    shortlist = 23
    got = sorted(
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in pq_ann_topk_rerank(
            codes, emb, q, books, k=10, shortlist=shortlist
        ).collect()
    )
    # the committed pre-r11 plan, reproduced verbatim
    old_short = pq_ann_topk(codes, q, books, k=shortlist).select(
        "query_id", "vec_id"
    )
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("__cv"))
    qq = q.select("query_id", F.col("embedding").cast("array<double>").alias("__qv"))
    sim = _dot(F.col("__qv"), F.col("__cv")) / (
        _norm(F.col("__qv")) * _norm(F.col("__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    want = sorted(
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in old_short.join(v, "vec_id")
        .join(F.broadcast(qq), "query_id")
        .select("query_id", "vec_id", sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine"))
        .collect()
    )
    assert got == want
    # ledger hygiene: at most the current call's candidate frame cached
    assert len(_IVF_PQ_LIVE) <= 1


def test_pq_rerank_shortlist_broadcast_bounded_in_bytes(spark, emb, books, monkeypatch):
    """The shortlist broadcast hint is bounded by estimated bytes
    (rows × id widths; string ids by their measured mean length), not
    by rows; above the bound the hint is dropped and the answer is
    unchanged."""
    from ariadne_spark.operators import quantization as qz

    short = spark.createDataFrame([(1, "abc")], "query_id long, vec_id string")
    cand = spark.createDataFrame(
        [(0, "abcd"), (0, "ab"), (1, "abc")], "__qpos int, __cid string"
    )
    per_q = qz._candidate_counts(cand)
    assert sorted((r["n"], r["id_bytes"]) for r in per_q) == [(1, 3), (2, 6)]
    # 3 rows × (8 B bigint + 8 B offset + 3 B mean string) = 57 B
    monkeypatch.setattr(qz, "_SHORT_BROADCAST_BYTES", 57)
    assert qz._broadcast_shortlist(short, per_q, 10, [1, 2]) is not short
    monkeypatch.setattr(qz, "_SHORT_BROADCAST_BYTES", 56)
    assert qz._broadcast_shortlist(short, per_q, 10, [1, 2]) is short
    # a binding shortlist counts only the kept rows: 2 × 19 B
    monkeypatch.setattr(qz, "_SHORT_BROADCAST_BYTES", 38)
    assert qz._broadcast_shortlist(short, per_q, 1, [1, 2]) is not short

    codes = pq_encode(emb, books)
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def run():
        return sorted(
            tuple(r)
            for r in pq_ann_topk_rerank(codes, emb, q, books, k=5, shortlist=40).collect()
        )

    monkeypatch.setattr(qz, "_SHORT_BROADCAST_BYTES", 32 << 20)
    hinted = run()
    monkeypatch.setattr(qz, "_SHORT_BROADCAST_BYTES", 0)
    assert run() == hinted
