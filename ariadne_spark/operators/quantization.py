"""Product quantization (PQ) for embedding columns.

Jégou, Douze, Schmid — "Product Quantization for Nearest Neighbor
Search" (IEEE TPAMI 2011, public paper). The vector is split into
``m`` subvectors; each subspace gets its own ``k``-centroid codebook;
a vector is stored as ``m`` small integers (one centroid id per
subspace). Distances are computed asymmetrically (ADC): the query
stays exact, each code id is looked up in a per-query table of
query-subvector→centroid distances, and the approximate distance is
the sum of ``m`` lookups.

Why this is the 100 TB move: a 768-dim float32 embedding is 3 KB; an
``m=16`` PQ code is 16 bytes — ~200× smaller. The ANN scan then reads
the *code column* (columnar parquet scan + one Arrow-batched UDF over
byte arrays) instead of the raw vectors, so the whole corpus's codes
fit in a fraction of the executors' page cache and the exact-rerank
tail touches only the top candidates. Composes with the IVF path
(:func:`ariadne_spark.operators.similarity.ivf_index_build`): cluster
files by IVF cell, store PQ codes per row, probe cells → scan codes →
exact-rerank survivors.

Determinism: codebook init is the md5-ordered vector pick used by the
IVF path (no RNG state) and Lloyd refinement iterates a fixed number
of rounds with deterministic tie-breaks (``argmin`` takes the lowest
code id). One caveat keeps this *same-partitioning* determinism
rather than absolute: each Lloyd round merges float64 partial sums
through a distributed ``F.sum``, and shuffle-fetch merge order for
doubles is not guaranteed across runs or partitionings — so
codebooks are ulp-stable in practice, not provably bit-identical at
arbitrary parallelism. Correctness gates don't depend on it (the
full-shortlist oracles bypass the codebooks: any codebook yields the
exact answer when the re-rank covers the corpus).

Reference parity: the reference engine has no vector quantization
(SURVEY.md §2 stops at bloom sketches); this module is part of the
beyond-reference training-data-pipeline suite the build mandates.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import _centroids, _pair_cosine, _stack, _topk_ranked, _vec_dim


# bytes a forced shortlist broadcast may carry: 32 MiB, the size of
# 2,000,000 rows of two bigint ids
_SHORT_BROADCAST_BYTES = 32 << 20
_FIXED_WIDTH = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.LongType: 8, T.FloatType: 4, T.DoubleType: 8, T.DateType: 4,
    T.TimestampType: 8, T.TimestampNTZType: 8,
}


def _candidate_counts(cand: DataFrame) -> list:
    """Per-query candidate rows ``n`` — plus ``id_bytes``, the summed
    UTF-8 length of variable-width corpus ids — in one driver-sized
    agg (|queries| rows)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    if type(cand.schema["__cid"].dataType) not in _FIXED_WIDTH:
        cid = F.col("__cid").cast("string")
        aggs.append(F.sum(F.octet_length(cid)).alias("id_bytes"))
    return cand.groupBy("__qpos").agg(*aggs).collect()


def _id_width(dtype: T.DataType, total_len: int, n: int) -> float:
    """Estimated bytes per id in a broadcast row: the fixed width of
    numeric and date types, else 8 bytes of offset plus the mean
    length."""
    w = _FIXED_WIDTH.get(type(dtype))
    return float(w) if w is not None else 8.0 + total_len / max(n, 1)


def _broadcast_shortlist(short: DataFrame, per_q: list, shortlist: int,
                         qids: list) -> DataFrame:
    """``short`` (query id, corpus id) with a broadcast hint when its
    estimated bytes — the exact row count (each query keeps
    min(candidates, shortlist)) times the estimated row width — stay
    under ``_SHORT_BROADCAST_BYTES``; above it the planner keeps its
    runtime choice."""
    rows = sum(min(r["n"], shortlist) for r in per_q)
    q_len = sum(len(str(q).encode("utf-8")) for q in qids)
    c_len = sum(r.asDict().get("id_bytes") or 0 for r in per_q)
    width = _id_width(short.schema[0].dataType, q_len, len(qids)) + _id_width(
        short.schema[1].dataType, c_len, sum(r["n"] for r in per_q)
    )
    return F.broadcast(short) if rows * width <= _SHORT_BROADCAST_BYTES else short


def _shortlist_rerank(short: DataFrame, per_q: list, shortlist: int, qids: list,
                      vecs: DataFrame, q: DataFrame, k: int, query_id: str,
                      corpus_id: str) -> DataFrame:
    """Exact re-rank of the ADC shortlist: join the (query id, corpus
    id) shortlist to the corpus vectors ``__cv`` and the broadcast
    query vectors ``__qv``, score each pair, rank.

    Build-side control (guide §3.1): the shortlist is (id, id) rows
    whose EXACT row count is already known driver-side, while
    ``vecs`` carries the heavy vector column — without the hint the
    planner's join-cardinality estimate over the cached candidates
    flipped the build side to the WIDE vector scan (collect +
    rebroadcast of every embedding; measured ~+1 s on the sf0.1 gate
    row). :func:`_broadcast_shortlist` hints only under an estimated
    byte bound, so a lake-scale full-shortlist run keeps the planner's
    runtime choice."""
    scored = (
        _broadcast_shortlist(short, per_q, shortlist, qids).join(vecs, corpus_id)
        .join(F.broadcast(q), query_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            _pair_cosine(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
    )
    return _topk_ranked(scored, k, query_id, corpus_id)


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _encode_matrix(mat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, m) int32 code matrix: per subspace, the L2-nearest centroid
    id (lowest id wins ties via argmin)."""
    m, k, dsub = codebooks.shape
    n = mat.shape[0]
    codes = np.empty((n, m), dtype=np.int32)
    for s in range(m):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        # ||x - c||^2 = ||x||^2 - 2 x·c + ||c||^2 ; ||x||^2 constant per row
        d = -2.0 * (sub @ codebooks[s].T) + (codebooks[s] ** 2).sum(axis=1)[None, :]
        codes[:, s] = np.argmin(d, axis=1)
    return codes


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 4,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> np.ndarray:
    """Train PQ codebooks, shape ``(m, k, dim/m)``.

    Init: the deterministic md5-ordered ``k``-vector pick shared with
    the IVF path (one small job, no RNG). Refinement: ``iters`` Lloyd
    rounds where EACH round is one distributed pass — a pandas-UDF
    scan assigns every vector its per-subspace codes, then a single
    partial-aggregatable groupBy averages subvectors per (subspace,
    code). Only the (m·k·dsub)-sized codebook is ever collected; the
    corpus never is. Empty cells keep their previous centroid (the
    deterministic analogue of k-means++ re-seeding).

    ``normalize=True`` L2-normalizes vectors first so ADC's L2
    ordering equals the cosine ordering (‖a−b‖² = 2−2cos on the unit
    sphere) — matching the cosine contract of the rest of the
    similarity suite."""
    dim = _vec_dim(corpus, vec_col)
    if dim == 0 or dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    init = _centroids(corpus, corpus_id, vec_col, k)  # (k, dim)
    if normalize:
        init = _normalize_rows(init)
    books = np.stack(
        [init[:, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    )  # (m, k, dsub)

    vecs = corpus.select(F.col(vec_col).cast("array<double>").alias("__v")).where(
        F.col("__v").isNotNull()
    )
    for _ in range(iters):
        sums, counts = _lloyd_round(vecs, books, normalize)
        with np.errstate(invalid="ignore"):
            upd = sums / counts[:, :, None]
        mask = counts > 0
        books = np.where(mask[:, :, None], upd, books)
    return books


def _lloyd_round(vecs: DataFrame, books: np.ndarray, normalize: bool):
    """One distributed Lloyd round: assign codes (UDF scan), average
    subvectors per (subspace, code) with map-side partials, collect
    the codebook-sized result."""
    m, k, dsub = books.shape
    out_schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("vsum", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(batches):
        import pandas as pd

        # per-partition partial sums: the driver sees one row per
        # (subspace, code) per PARTITION, never per vector
        acc_cnt = np.zeros((m, k), dtype=np.int64)
        acc_sum = np.zeros((m, k, dsub), dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _stack(pdf["__v"])
            if normalize:
                mat = _normalize_rows(mat)
            codes = _encode_matrix(mat, books)
            for s in range(m):
                sub = mat[:, s * dsub : (s + 1) * dsub]
                np.add.at(acc_sum[s], codes[:, s], sub)
                acc_cnt[s] += np.bincount(codes[:, s], minlength=k)
        rows = [
            {"sub": s, "code": c, "cnt": int(acc_cnt[s, c]),
             "vsum": acc_sum[s, c].tolist()}
            for s in range(m)
            for c in range(k)
            if acc_cnt[s, c] > 0
        ]
        yield pd.DataFrame(rows, columns=["sub", "code", "cnt", "vsum"])

    agg = (
        vecs.mapInPandas(partials, out_schema)
        .groupBy("sub", "code")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.array(
                *[F.sum(F.element_at("vsum", i + 1)) for i in range(dsub)]
            ).alias("vsum"),
        )
        .collect()
    )
    sums = np.zeros((m, k, dsub), dtype=np.float64)
    counts = np.zeros((m, k), dtype=np.int64)
    for r in agg:
        sums[r["sub"], r["code"]] = np.array(r["vsum"])
        counts[r["sub"], r["code"]] = r["cnt"]
    return sums, counts


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    code_col: str = "pq_code",
) -> DataFrame:
    """Add the ``m``-byte PQ code column: per subspace, the L2-nearest
    centroid id. One Arrow-batched UDF scan; output is
    ``(corpus_id, pq_code array<int>)`` — at lake scale this is the
    column you persist next to (or instead of) the raw vectors."""
    udf = _encode_udf(codebooks, normalize=normalize)
    return corpus.select(
        F.col(corpus_id), udf(F.col(vec_col).cast("array<double>")).alias(code_col)
    )


def pq_ann_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    normalize: bool = True,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, an
    ``(m, k_codes)`` lookup table of exact query-subvector→centroid
    squared distances is built once (driver-side — queries are the
    SMALL side by contract, like every broadcast in this module), and
    each corpus code's approximate distance is the sum of ``m`` table
    lookups. Deterministic tie-break: smaller adc, then smaller id.

    Returns ``(query_id, corpus_id, rank, adc)`` with ``adc`` rounded
    to 6 dp (≈2−2·cosine when trained with ``normalize=True``).

    Shape at scale: the scan reads ONLY the integer code column;
    per-partition top-k is computed inside the same Arrow batch pass
    (k rows per query per partition leave the executor), and the
    global top-k merges those candidates — a tree top-k, not a full
    sort."""
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, kc, dsub = books.shape
    qrows = queries.select(F.col(query_id), F.col(vec_col).cast("array<double>")).collect()
    if not qrows:
        raise ValueError("queries is empty")
    qids = [r[0] for r in qrows]
    qmat = _stack([r[1] for r in qrows])
    if normalize:
        qmat = _normalize_rows(qmat)
    # LUT[q, s, c] = || q_sub - books[s, c] ||^2
    luts = np.empty((len(qids), m, kc), dtype=np.float64)
    for s in range(m):
        sub = qmat[:, s * dsub : (s + 1) * dsub]
        luts[:, s, :] = (
            (sub**2).sum(axis=1)[:, None]
            - 2.0 * (sub @ books[s].T)
            + (books[s] ** 2).sum(axis=1)[None, :]
        )

    out_schema = T.StructType(
        [
            T.StructField("__qpos", T.IntegerType()),
            T.StructField("__cid", codes.schema[corpus_id].dataType),
            T.StructField("__adc", T.DoubleType()),
        ]
    )

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf[code_col]]
            )  # (n, m)
            ids = pdf[corpus_id].to_numpy()
            rows = []
            for qi in range(len(qids)):
                lut = luts[qi]  # (m, kc)
                d = lut[np.arange(m)[None, :], cmat].sum(axis=1)  # (n,)
                top = min(k, len(d))
                # partial top-k inside the batch under the FULL
                # deterministic (adc, id) order. An argpartition cut
                # would split ADC ties (common: identical codes ⇒
                # identical ADC) by row position, making the kept set
                # depend on partitioning (caught in review with a
                # numpy repro); lexsort keeps the contract winner.
                order = np.lexsort((ids, d))[:top]
                for j in order:
                    rows.append((qi, ids[j], float(d[j])))
            yield pd.DataFrame(rows, columns=["__qpos", "__cid", "__adc"])

    # NULL codes (pq_encode's contract for NULL embeddings) carry no
    # distance — drop them instead of crashing np.asarray in the scan
    cand = (
        codes.select(corpus_id, code_col)
        .where(F.col(code_col).isNotNull())
        .mapInPandas(scan, out_schema)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__qpos").orderBy(
        F.col("__adc").asc(), F.col("__cid").asc()
    )
    qid_arr = F.array(*[F.lit(q) for q in qids])
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.element_at(qid_arr, F.col("__qpos") + 1).alias(query_id),
            F.col("__cid").alias(corpus_id),
            "rank",
            F.round("__adc", 6).alias("adc"),
        )
    )


def _pq_luts(qmat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per-query (m, k_codes) ADC lookup tables:
    LUT[q, s, c] = ||q_sub - books[s, c]||^2."""
    m, kc, dsub = books.shape
    luts = np.empty((qmat.shape[0], m, kc), dtype=np.float64)
    for s in range(m):
        sub = qmat[:, s * dsub : (s + 1) * dsub]
        luts[:, s, :] = (
            (sub**2).sum(axis=1)[:, None]
            - 2.0 * (sub @ books[s].T)
            + (books[s] ** 2).sum(axis=1)[None, :]
        )
    return luts


def pq_ann_topk_rerank(
    codes: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    shortlist: int = 100,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """The production PQ shape: ADC over the compact code column
    builds a per-query ``shortlist`` (cheap, code-column scan only),
    then ONLY the shortlisted rows join back to the raw vectors for an
    exact cosine re-rank. Returns ``(query_id, corpus_id, rank,
    cosine)`` — same contract as
    :func:`ariadne_spark.operators.similarity.cosine_topk`, which it
    converges to as ``shortlist`` grows.

    At 100 TB the raw-vector join touches ``queries × shortlist`` rows
    (a broadcast-able id set), not the corpus: the expensive column is
    read ~0% of the time, which is the entire point of PQ.

    r11 (guide §2.5): the shortlist selection no longer runs
    :func:`pq_ann_topk`'s rank window unconditionally. Candidates are
    persisted once and a driver-sized per-query count decides whether
    the shortlist bound even binds — when every query has at most
    ``shortlist`` candidates (always true in full-shortlist exactness
    runs, where the old plan paid a whole-corpus-per-query sort for a
    no-op filter) the window is skipped outright; otherwise it runs
    over the CACHED candidates, so the ADC scan never re-executes.
    The kept set is identical by construction: row_number ≤ shortlist
    keeps every row of a group that is not larger than the bound.

    Eager query side: the call itself runs Spark jobs — it collects
    ``queries`` to the driver (ids and vectors for the ADC lookup
    tables) and materializes the candidate cache with the per-query
    count — so the returned frame holds a snapshot of the query rows
    taken at call time, not a lazy plan over them. Raises ValueError
    on an empty query set."""
    from pyspark.sql import Window

    while _IVF_PQ_LIVE:
        try:
            _IVF_PQ_LIVE.pop().unpersist()
        except Exception:
            pass
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, kc, dsub = books.shape
    qrows = queries.select(
        F.col(query_id), F.col(vec_col).cast("array<double>")
    ).collect()
    if not qrows:
        raise ValueError("queries is empty")
    qids = [r[0] for r in qrows]
    luts = _pq_luts(_normalize_rows(_stack([r[1] for r in qrows])), books)

    out_schema = T.StructType(
        [
            T.StructField("__qpos", T.IntegerType()),
            T.StructField("__cid", codes.schema[corpus_id].dataType),
            T.StructField("__adc", T.DoubleType()),
        ]
    )

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf[code_col]]
            )  # (n, m)
            ids = pdf[corpus_id].to_numpy()
            n = len(ids)
            rows_q, rows_id, rows_d = [], [], []
            for qi in range(len(qids)):
                lut = luts[qi]
                d = lut[np.arange(m)[None, :], cmat].sum(axis=1)
                if n <= shortlist:
                    # covering batch: the cut keeps every row — skip
                    # the per-batch sort (row order is set-irrelevant
                    # downstream)
                    keep = np.arange(n)
                else:
                    # partial top-`shortlist` under the FULL
                    # deterministic (adc, id) order (see pq_ann_topk:
                    # argpartition would split ADC ties by position)
                    keep = np.lexsort((ids, d))[:shortlist]
                rows_q.append(np.full(len(keep), qi, dtype=np.int64))
                rows_id.append(ids[keep])
                rows_d.append(d[keep])
            yield pd.DataFrame(
                {
                    "__qpos": np.concatenate(rows_q),
                    "__cid": np.concatenate(rows_id),
                    "__adc": np.concatenate(rows_d),
                }
            )

    cand = (
        codes.select(corpus_id, code_col)
        .where(F.col(code_col).isNotNull())
        .mapInPandas(scan, out_schema)
        .persist()
    )
    _IVF_PQ_LIVE.append(cand)
    # one driver-sized agg (|queries| rows) materializes the cache and
    # tells us whether the shortlist bound binds at all
    per_q = _candidate_counts(cand)
    max_n = max((r["n"] for r in per_q), default=0)
    qdt = queries.schema[query_id].dataType.simpleString()
    qpos_df = codes.sparkSession.createDataFrame(
        list(enumerate(qids)), f"__qpos int, {query_id} {qdt}"
    )
    if max_n <= shortlist:
        # the bound never binds: row_number <= shortlist keeps every
        # row of every group — no window, no sort, no extra shuffle
        short = cand.join(F.broadcast(qpos_df), "__qpos").select(
            F.col(query_id), F.col("__cid").alias(corpus_id)
        )
    else:
        wshort = Window.partitionBy("__qpos").orderBy(
            F.col("__adc").asc(), F.col("__cid").asc()
        )
        short = (
            cand.withColumn("__r", F.row_number().over(wshort))
            .where(F.col("__r") <= shortlist)
            .join(F.broadcast(qpos_df), "__qpos")
            .select(F.col(query_id), F.col("__cid").alias(corpus_id))
        )
    q = queries.select(
        F.col(query_id), F.col(vec_col).cast("array<double>").alias("__qv")
    )
    v = vectors.select(
        F.col(corpus_id), F.col(vec_col).cast("array<double>").alias("__cv")
    )
    return _shortlist_rerank(short, per_q, shortlist, qids, v, q, k, query_id,
                             corpus_id)


def ivf_pq_index_build(
    corpus: DataFrame,
    out_dir: str,
    index_name: str,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 32,
    n_files: int = 8,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 3,
    spark=None,
):
    """The full production ANN layout: IVF cell-clustered files that
    ALSO carry the PQ code column, registered under an engine index
    on ``ivf_cell`` with centroids + codebooks persisted as a sidecar.

    A probe then composes all three scale levers:

    1. **file pruning** — the engine locate reads only the files
       holding the probed cells (≈ n_probe/n_centroids of the lake),
    2. **byte-light scan** — the ADC pass projects only
       ``(id, cell, pq_code)``: columnar pruning means the scan moves
       ~m bytes per row instead of the raw vector column,
    3. **bounded exact tail** — only the ADC shortlist re-reads the
       vector column (an id-pushdown filter over the located files).

    Returns ``(Index, sidecar_path)``. Query with :func:`ivf_pq_topk`.
    Composes the same machinery as
    :func:`ariadne_spark.operators.similarity.ivf_index_build` (cells,
    clustering, engine index) — reference file:line cited there."""
    import json as _json

    from ..index import Index
    from ..storage.fs import get_fs, join as fs_join
    from .layout import cluster_files
    from .similarity import _centroids, _nearest_centroids_udf

    spark = spark or corpus.sparkSession
    cents = _centroids(corpus, corpus_id, vec_col, n_centroids)
    books = pq_train(
        corpus, m=m, k=k_codes, iters=iters,
        corpus_id=corpus_id, vec_col=vec_col,
    )
    assign = _nearest_centroids_udf(cents, 1)
    enc = _encode_udf(books)
    assigned = corpus.withColumn(
        "ivf_cell", F.element_at(assign(F.col(vec_col)), 1)
    ).withColumn(
        "pq_code", enc(F.col(vec_col).cast("array<double>"))
    )
    files = cluster_files(assigned, out_dir, "ivf_cell", n_files=n_files)
    fs = get_fs(spark, out_dir)
    sidecar = fs_join(out_dir, "_ivf_pq_sidecar.json")
    fs.write_atomic(
        sidecar,
        _json.dumps(
            {
                "centroids": cents.tolist(),
                "codebooks": books.tolist(),
                "m": int(m),
                "k_codes": int(k_codes),
            }
        ),
    )
    idx = Index.for_name(
        index_name, schema=assigned.schema, format="parquet", spark=spark
    )
    idx.add_index("ivf_cell")
    idx.add_files(files)
    idx.update()
    return idx, sidecar


def _encode_udf(codebooks: np.ndarray, normalize: bool = True):
    """The pq_encode pandas UDF as a reusable Column factory."""
    import pandas as pd

    books = np.ascontiguousarray(codebooks, dtype=np.float64)

    def enc(vecs):
        mask = vecs.notna().to_numpy()
        if not mask.any():
            return pd.Series([None] * len(vecs), dtype=object)
        mat = _stack(vecs[mask])
        if normalize:
            mat = _normalize_rows(mat)
        codes = _encode_matrix(mat, books)
        out = pd.Series([None] * len(vecs), dtype=object)
        out.iloc[np.flatnonzero(mask)] = [
            [int(c) for c in row] for row in codes
        ]
        return out

    enc.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return F.pandas_udf(enc, T.ArrayType(T.IntegerType()))


# persisted shortlists from prior ivf_pq_topk calls, released on the
# NEXT call (same bounded-lifetime ledger as dedup._INCREMENTAL_LIVE):
# the shortlist must stay cached while the caller actions the returned
# frame, but without this it lived until memory pressure — one leaked
# queries×shortlist block per call.
_IVF_PQ_LIVE: list = []


def ivf_pq_topk(
    index,
    sidecar_path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 8,
    shortlist: int = 100,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe an :func:`ivf_pq_index_build` index: engine-locate the
    probed cells' FILES, ADC-scan only their code column for a
    per-query ``shortlist``, exact-rerank the shortlist by re-reading
    the vector column under an id-pushdown filter. With ``shortlist``
    ≥ the probed-cell population this equals
    :func:`ariadne_spark.operators.similarity.ivf_index_topk`
    (pytest-pinned); smaller shortlists trade recall for scan bytes."""
    from ..storage.fs import get_fs, read_json
    from pyspark.sql import Window

    spark = index.spark
    while _IVF_PQ_LIVE:
        try:
            _IVF_PQ_LIVE.pop().unpersist()
        except Exception:
            pass
    blob = read_json(get_fs(spark, sidecar_path), sidecar_path)
    cents = np.array(blob["centroids"], dtype=np.float64)
    books = np.ascontiguousarray(blob["codebooks"], dtype=np.float64)
    # ONE driver round-trip for the whole query side (queries are the
    # small side by contract): ids, vectors, and per-query probed
    # cells all derive from this collect — no cache, no extra jobs
    qraw = queries.select(
        F.col(query_id), F.col(vec_col).cast("array<double>").alias("__qv")
    ).collect()
    if not qraw:
        raise ValueError("queries is empty")
    qids = [r[query_id] for r in qraw]
    qraw_mat = _stack([r["__qv"] for r in qraw])
    qmat = _normalize_rows(qraw_mat)
    # probe with the SAME float expression order as
    # _nearest_centroids_udf (raw vectors, norms divided jointly) so
    # near-tie cell ranks are bit-identical to the executor-side UDF
    # — the full-shortlist == ivf_index_topk parity depends on it
    cnorm = np.linalg.norm(cents, axis=1)
    cnorm[cnorm == 0] = 1.0
    vnorm = np.linalg.norm(qraw_mat, axis=1)
    vnorm[vnorm == 0] = 1.0
    cos = (qraw_mat @ cents.T) / (vnorm[:, None] * cnorm[None, :])
    probe_cells = np.argsort(-cos, axis=1)[:, :n_probe]
    cells = sorted({int(c) for row in probe_cells for c in row})
    files = index.locate_files({"ivf_cell": cells})
    data = index.read_files(files, extra_columns=["ivf_cell", "pq_code"])
    # candidates are PER-QUERY (a row competes only inside the cells
    # THIS query probed — ivf_index_topk semantics, not probe-union):
    # the (query, cell) pairs broadcast against the code scan
    m, kc, dsub = books.shape
    luts = np.empty((len(qids), m, kc), dtype=np.float64)
    for s in range(m):
        sub = qmat[:, s * dsub : (s + 1) * dsub]
        luts[:, s, :] = (
            (sub**2).sum(axis=1)[:, None]
            - 2.0 * (sub @ books[s].T)
            + (books[s] ** 2).sum(axis=1)[None, :]
        )
    qcells = spark.createDataFrame(
        [
            (qi, int(c))
            for qi, row in enumerate(probe_cells)
            for c in row
        ],
        "__qpos int, ivf_cell int",
    )
    pairs = data.select(corpus_id, "pq_code", "ivf_cell").join(
        F.broadcast(qcells), "ivf_cell"
    )
    out_schema = T.StructType(
        [
            T.StructField("__qpos", T.IntegerType()),
            T.StructField("__cid", data.schema[corpus_id].dataType),
            T.StructField("__adc", T.DoubleType()),
        ]
    )

    def adc_scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["pq_code"]]
            )
            qp = pdf["__qpos"].to_numpy()
            d = luts[qp[:, None], np.arange(m)[None, :], cmat].sum(axis=1)
            out = pd.DataFrame(
                {
                    "__qpos": qp,
                    "__cid": pdf[corpus_id].to_numpy(),
                    "__adc": d,
                }
            )
            # per-batch partial shortlist: only the best `shortlist`
            # rows per query leave the executor
            out = (
                out.sort_values(["__qpos", "__adc", "__cid"])
                .groupby("__qpos", sort=False)
                .head(shortlist)
            )
            yield out

    # PERSIST the (query, candidate) ADC output instead of collecting
    # it: it stays on the executors (queries × shortlist rows — which
    # in full-shortlist exactness runs is queries × corpus, far too
    # big for a driver round-trip, the r06 advice finding). The
    # persist is what stops the rerank join from re-running the
    # located-files read + ADC scan per downstream action; the
    # per-query count agg materializes it (giving AQE real sizes for
    # the join strategy below) AND decides whether the shortlist
    # bound binds at all — in full-shortlist exactness runs (the gate
    # configuration) it never does, so the global row_number window
    # and its queries×corpus sort are skipped outright (r11, guide
    # §2.5; same restructure as pq_ann_topk_rerank). Kept set
    # identical by construction: row_number <= shortlist keeps every
    # row of a group within the bound.
    cand = (
        pairs.select(corpus_id, "pq_code", "__qpos")
        # NULL codes carry no distance (pq_encode's NULL-embedding
        # contract) — drop, don't crash np.asarray in the scan
        .where(F.col("pq_code").isNotNull())
        .mapInPandas(adc_scan, out_schema)
        .persist()
    )
    _IVF_PQ_LIVE.append(cand)
    per_q = _candidate_counts(cand)
    qdt = queries.schema[query_id].dataType.simpleString()
    qpos_df = spark.createDataFrame(
        list(enumerate(qids)), f"__qpos int, {query_id} {qdt}"
    )
    if max((r["n"] for r in per_q), default=0) <= shortlist:
        short = cand.join(F.broadcast(qpos_df), "__qpos").select(
            F.col(query_id), F.col("__cid").alias(corpus_id)
        )
    else:
        wshort = Window.partitionBy("__qpos").orderBy(
            F.col("__adc").asc(), F.col("__cid").asc()
        )
        short = (
            cand.withColumn("__r", F.row_number().over(wshort))
            .where(F.col("__r") <= shortlist)
            .join(F.broadcast(qpos_df), "__qpos")
            .select(F.col(query_id), F.col("__cid").alias(corpus_id))
            # the window re-runs per downstream action (the id
            # collect + the final execution) — cache the cut too;
            # both frames ride the same bounded-lifetime ledger
            .persist()
        )
        _IVF_PQ_LIVE.append(short)
    # exact row count of the cut without another job: the bound caps
    # each group at `shortlist`
    n_short = sum(min(r["n"], shortlist) for r in per_q)
    # bounded exact tail: shortlisted ids push down into the vector
    # column read of the SAME located files. The isin pushdown is an
    # optimization only (the join below already restricts rows), so
    # it is skipped — with no driver materialization at all — when
    # the shortlist is too large to be a useful literal filter
    # (e.g. full-shortlist exactness runs).
    vecs = index.read_files(files)
    if n_short <= 10_000:
        ids = sorted(
            {r[corpus_id] for r in short.select(corpus_id).distinct().collect()}
        )
        vecs = vecs.where(F.col(corpus_id).isin(ids))
    vecs = vecs.select(F.col(corpus_id), F.col(vec_col).alias("__cv"))
    qv = spark.createDataFrame(
        [(qid, [float(x) for x in r["__qv"]]) for qid, r in zip(qids, qraw)],
        f"{query_id} {qdt}, __qv array<double>",
    )
    return _shortlist_rerank(short, per_q, shortlist, qids, vecs, qv, k, query_id,
                             corpus_id)
