"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a 100 TB pipeline needs both:

* ``cosine_scores`` / ``cosine_topk`` — exact brute-force scoring:
  the query side is collected to the driver (it is the small side),
  and ONE Arrow-batched corpus scan scores whole record batches
  against it with vectorized numpy. Linear in corpus size,
  embarrassingly parallel, zero shuffle until the final per-query
  top-k (a windowed sort over each batch's k·|Q| candidates).
* ``lsh_ann_*`` / ``ivf_*`` — approximate candidates: deterministic
  sha256-derived hyperplanes or centroids, signatures computed in one
  vectorized pandas UDF, a bucket equi-join instead of a cross
  product, then the shared exact re-rank tail (:func:`_bucket_rerank`
  and :func:`_topk_ranked`). The scale path when |Q| is large.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .util import ensure_parallelism as _ensure_parallelism


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _pair_cosine(a, b) -> Column:
    """Exact cosine of two array columns, both norms folded per pair —
    the re-rank scorer of every shortlist/bucket operator."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk_ranked(
    scored: DataFrame, k: int, query_id: str, corpus_id: str
) -> DataFrame:
    """The exact re-rank tail shared by every top-k operator: rank
    each query's ``cosine`` rows (higher cosine first, then smaller
    corpus id), keep ranks ≤ k, round the cosine to 6 places."""
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, "rank", F.round("cosine", 6).alias("cosine"))
    )


def _bucket_rerank(
    c: DataFrame,
    q: DataFrame,
    key,
    k: int,
    query_id: str,
    corpus_id: str,
    cv: str = "__cv",
) -> DataFrame:
    """Bucketed ANN tail: join the broadcast query side to the corpus
    on the bucket ``key``, score each pair exactly, keep one cosine per
    (query, corpus) pair (a pair meeting in several buckets scores the
    same), then rank. ``q`` carries its vector as ``__qv``."""
    scored = (
        c.join(F.broadcast(q), key)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            _pair_cosine(F.col("__qv"), F.col(cv)).alias("cosine"),
        )
        .groupBy(query_id, corpus_id)
        .agg(F.max("cosine").alias("cosine"))
    )
    return _topk_ranked(scored, k, query_id, corpus_id)


def _collected_queries(queries: DataFrame, query_id: str, vec_col: str) -> list:
    """Driver-collected query side of the Arrow scorer, grouped by
    vector dimension: one ``(dim, qids, qmat, qn)`` group per
    dimension, plus one NULL group (``dim`` None, no matrix) for NULL
    vectors, vectors with a null element and empty vectors. Every pair
    of a NULL-group query scores NULL, as in the expression semantics:
    a null product poisons the dot fold, and an empty vector's dot
    against a non-empty one pads with nulls. Queries are the SMALL side
    by module contract, so the collect is bounded by the query set."""
    groups: dict = {}
    for qid, v in queries.select(F.col(query_id), F.col(vec_col)).collect():
        dim = None if not v or any(x is None for x in v) else len(v)
        ids, vecs = groups.setdefault(dim, ([], []))
        ids.append(qid)
        vecs.append(v)
    out = []
    for dim, (ids, vecs) in groups.items():
        qids = np.empty(len(ids), dtype=object)
        qids[:] = ids
        if dim is None:
            out.append((None, qids, None, None))
            continue
        qmat = np.array(vecs, dtype=np.float64)
        # query norms via the same sequential left fold as _norm:
        # acc = 0.0; acc += x_i * x_i in element order; sqrt — every op
        # IEEE double, bit-identical to the JVM expression
        qn = np.zeros(len(ids), dtype=np.float64)
        for i in range(dim):
            qn = qn + qmat[:, i] * qmat[:, i]
        out.append((dim, qids, qmat, np.sqrt(qn)))
    return out


def _mask_null_elements(corpus: DataFrame, corpus_id: str, vec_col: str) -> DataFrame:
    """Rows whose vector CONTAINS a null element score NULL against
    every query (a null product poisons the _dot fold), exactly like
    rows whose vector IS null — collapse the former onto the latter
    JVM-side so the Arrow scorer only ever sees fully-populated
    vectors (Arrow→pandas would silently turn null elements into NaN,
    which ranks differently)."""
    vec = F.col(vec_col)
    masked = F.when(
        F.exists(vec, lambda x: x.isNull()), F.lit(None)
    ).otherwise(vec)
    return corpus.select(F.col(corpus_id), masked.alias(vec_col))


def _arrow_pair_scores(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    topk: int | None = None,
) -> DataFrame:
    """All (query, corpus) cosines as ONE Arrow-batched corpus scan:
    vectorized numpy over whole record batches against the
    driver-collected query groups of :func:`_collected_queries`.

    Semantics are the per-pair expression ``dot(q, c) / (|q| * |c|)``
    over ``array`` columns, replayed bit-for-bit: float→double
    widening per element, per-pair products left-folded from 0.0 in
    element order (a dim-step vectorized loop, never a BLAS matmul,
    whose blocked summation would round differently), norms as the
    same fold under sqrt, and dot/(qn*cn) in that association. A
    corpus row is scored against the groups whose dimension it
    matches; every other pair — NULL vectors, null elements, a
    dimension mismatch, the NULL query group — scores NULL. NaN
    cosines cannot cross Arrow (pandas NaN → null), so they travel as
    a ``__nan`` flag and are rebuilt as literal NaN doubles JVM-side.
    Zero-norm vectors on either side score IEEE 0/0 = NaN (the
    expression form's ANSI double divide raises DIVIDE_BY_ZERO there).

    ``topk``: per-batch partial top-k per query under the full
    (NaN first, cosine desc, corpus_id asc) order — only candidate
    rows leave Python, the blocked-top-k shape. Rows the batch cannot
    rank exactly (NULL cosines, null corpus ids) are passed through
    untruncated for the final window to place."""
    import pandas as pd

    if corpus_id == query_id:
        raise ValueError(
            f"corpus_id and query_id must differ (both {corpus_id!r})"
        )
    groups = _collected_queries(queries, query_id, vec_col)
    fields = [
        T.StructField(query_id, queries.schema[query_id].dataType),
        T.StructField(corpus_id, corpus.schema[corpus_id].dataType),
        T.StructField("cosine", T.DoubleType()),
    ]
    if not groups:
        return corpus.sparkSession.createDataFrame([], T.StructType(fields))
    out_schema = T.StructType(fields + [T.StructField("__nan", T.BooleanType())])

    def frame(qid, cid, cos, nan):
        return pd.DataFrame(
            {query_id: qid, corpus_id: cid, "cosine": cos, "__nan": nan}
        )

    def scan(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            vecs = pdf[vec_col]
            cids = pdf[corpus_id].to_numpy()
            lens = np.fromiter(
                ((-1 if v is None else len(v)) for v in vecs),
                dtype=np.int64,
                count=n,
            )
            out_frames = []
            for dim, qids, qmat, qn in groups:
                nq = len(qids)
                clean = np.zeros(n, dtype=bool) if dim is None else lens == dim
                pos = np.flatnonzero(clean)
                n_clean = len(pos)
                if n_clean:
                    mat = np.stack([np.asarray(vecs.iloc[i]) for i in pos]).astype(
                        np.float64
                    )
                    # the same sequential fold as the JVM expression —
                    # see the bit-exactness contract above
                    acc = np.zeros((n_clean, nq), dtype=np.float64)
                    cn = np.zeros(n_clean, dtype=np.float64)
                    for i in range(dim):
                        ci = mat[:, i]
                        acc = acc + ci[:, None] * qmat[None, :, i]
                        cn = cn + ci * ci
                    cn = np.sqrt(cn)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = acc / (cn[:, None] * qn[None, :])
                    nan = np.isnan(cos)
                    ids = cids[pos]
                    # null corpus ids tie-break by Spark null ordering,
                    # which numpy cannot replay — ship such a batch whole
                    if topk is None or n_clean <= topk or pd.isna(ids).any():
                        rows = np.repeat(np.arange(n_clean), nq)
                        qpos = np.tile(np.arange(nq), n_clean)
                    else:
                        sort_cos = np.where(nan, -np.inf, cos)
                        rows = np.concatenate(
                            [
                                # keys read last-first: NaN rows first
                                # (Spark: NaN > everything in desc), then
                                # cosine desc, then corpus id asc
                                np.lexsort((ids, -sort_cos[:, j], ~nan[:, j]))[:topk]
                                for j in range(nq)
                            ]
                        )
                        qpos = np.repeat(np.arange(nq), topk)
                    out_frames.append(
                        frame(qids[qpos], ids[rows], cos[rows, qpos], nan[rows, qpos])
                    )
                n_dirty = n - n_clean
                if n_dirty:
                    # NULL-cosine pairs: never truncated — the final
                    # window places them
                    out_frames.append(
                        frame(
                            np.tile(qids, n_dirty),
                            cids[np.repeat(np.flatnonzero(~clean), nq)],
                            np.full(n_dirty * nq, np.nan),
                            np.zeros(n_dirty * nq, dtype=bool),
                        )
                    )
            yield pd.concat(out_frames, ignore_index=True)

    raw = _mask_null_elements(corpus, corpus_id, vec_col).mapInPandas(
        scan, out_schema
    )
    return raw.select(
        F.col(query_id),
        F.col(corpus_id),
        F.when(F.col("__nan"), F.lit(float("nan")))
        .otherwise(F.col("cosine"))
        .alias("cosine"),
    )


def cosine_scores(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (query, corpus) cosine similarities as ``(query_id,
    corpus_id, cosine)``: ONE Arrow-batched corpus scan against the
    driver-collected query matrix (see :func:`_arrow_pair_scores` for
    the exact-IEEE contract and the NULL/NaN cases).

    Eager query side: the call itself runs one Spark job that collects
    ``queries`` to the driver, so the returned frame holds a snapshot
    of the query rows taken at call time, not a lazy plan over them.
    ``corpus_id`` and ``query_id`` must differ (ValueError)."""
    return _arrow_pair_scores(corpus, queries, corpus_id, query_id, vec_col)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k per query with deterministic tie-break (higher
    cosine first, then smaller corpus id).

    The scorer emits only each batch's top-k candidates per query
    (blocked top-k — a globally-top-k row is top-k in its own batch,
    so truncation is lossless); the final window ranks candidates
    instead of the full pair set. Like :func:`cosine_scores`, the call
    collects ``queries`` to the driver eagerly (one Spark job)."""
    return _topk_ranked(
        _arrow_pair_scores(corpus, queries, corpus_id, query_id, vec_col, topk=k),
        k,
        query_id,
        corpus_id,
    )


# ------------------------------------------------------------------ LSH ANN

def _planes(dim: int, n_planes: int, seed: str = "ariadne-lsh") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: unit-variance normals
    derived from sha256(seed, plane, chunk) — reproducible across
    processes with no RNG state."""
    out = np.zeros((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        vals = []
        chunk = 0
        while len(vals) < dim:
            h = hashlib.sha256(f"{seed}:{p}:{chunk}".encode()).digest()
            for i in range(0, 32, 4):
                u = int.from_bytes(h[i : i + 4], "little") / 2**32
                vals.append(u)
            chunk += 1
        u = np.array(vals[:dim])
        # inverse-transform to normal-ish via Box–Muller on pairs
        u1 = np.clip(u, 1e-9, 1 - 1e-9)
        u2 = np.roll(u1, 1)
        out[p] = np.sqrt(-2 * np.log(u1)) * np.cos(2 * np.pi * u2)
    return out


def _stack(vecs) -> np.ndarray:
    """(n, dim) float64 matrix from a sequence of equal-length vectors."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vecs])


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first row (one tiny job)."""
    first = df.select(F.size(F.col(vec_col))).first()
    return first[0] if first else 0


def _scatter(n: int, mask: np.ndarray, values: list):
    """Object Series of length n with ``values`` at True positions of
    ``mask`` and None elsewhere (list-valued entries kept intact —
    boolean setitem on a Series would try to broadcast them)."""
    import pandas as pd

    arr = np.empty(n, dtype=object)
    vals = np.empty(len(values), dtype=object)
    vals[:] = values
    arr[mask] = vals
    return pd.Series(arr)


def _signature_udf(planes: np.ndarray):
    """Sign-bit signatures for a whole Arrow batch in ONE
    (batch × dim) @ (dim × planes) matmul — no per-vector Python."""
    import pandas as pd

    weights = 1 << np.arange(planes.shape[0], dtype=np.int64)

    def sig(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna().to_numpy()
        if not mask.any():
            return pd.Series([None] * len(vecs), dtype=object)
        bits = (_stack(vecs[mask]) @ planes.T) > 0
        packed = bits.astype(np.int64) @ weights
        return _scatter(len(vecs), mask, [int(x) for x in packed])

    sig.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return F.pandas_udf(sig, T.LongType())


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
) -> DataFrame:
    """Approximate top-k: candidates share the query's bucket, exact
    cosine re-rank within. Recall trades with n_planes; callers
    needing guarantees use multiprobe (flip one bit) — included here
    for the common 1-bit miss.

    Full-coverage corollary (the oracle-gate configuration): with
    ``n_planes=1`` the signature space is {0, 1} and the built-in
    1-bit multiprobe visits both buckets, so the candidate set
    provably equals the whole corpus and the result equals exact
    :func:`cosine_topk` — hash values never affect the answer."""
    planes = _planes(_vec_dim(corpus, vec_col), n_planes, "ariadne-lsh")
    sig = _signature_udf(planes)
    c = _ensure_parallelism(corpus).withColumn("__bucket", sig(F.col(vec_col)))
    q = queries.withColumn("__bucket0", sig(F.col(vec_col)))
    # multiprobe: original bucket + each 1-bit flip
    probes = F.array(
        F.col("__bucket0"),
        *[
            F.col("__bucket0").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)
        ],
    )
    q = q.select(
        F.col(query_id),
        F.col(vec_col).alias("__qv"),
        F.explode(probes).alias("__bucket"),
    )
    return _bucket_rerank(c, q, "__bucket", k, query_id, corpus_id, cv=vec_col)


def _band_signature_udf(planes_stack: np.ndarray, bands: int, per_band: int):
    """All ``bands`` signatures in ONE corpus scan: a single
    (bands*per_band, dim) matmul per vector, bits packed per band into
    an array<long>."""
    import pandas as pd

    weights = 1 << np.arange(per_band, dtype=np.int64)

    def sig(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna().to_numpy()
        if not mask.any():
            return pd.Series([None] * len(vecs), dtype=object)
        bits = (_stack(vecs[mask]) @ planes_stack.T) > 0
        packed = bits.reshape(-1, bands, per_band).astype(np.int64) @ weights
        return _scatter(
            len(vecs), mask, [[int(x) for x in row] for row in packed]
        )

    sig.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return F.pandas_udf(sig, T.ArrayType(T.LongType()))


def lsh_ann_topk_banded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    bands: int = 8,
    planes_per_band: int = 10,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k with banded OR-amplification: ``bands``
    independent signatures; a corpus vector is a candidate if it
    collides with the query in ANY band. Collision probability per
    band is (1 - θ/π)^planes_per_band, OR-ed across bands — the same
    S-curve control minhash LSH banding gives Jaccard, here for
    cosine. Better recall/candidate trade-off than single-signature
    multiprobe on weakly-correlated corpora (NOTES round-1 gap #3).

    ``multiprobe=True`` additionally probes every 1-bit flip of each
    band signature (the standard multiprobe recall boost, applied
    per band). With ``planes_per_band=1`` the flip covers BOTH
    possible signatures, so the candidate set provably equals the
    whole corpus and the result equals exact :func:`cosine_topk` —
    the oracle-gate configuration (same full-coverage trick as the
    PQ full-shortlist gate).

    One UDF scan per side computes all band signatures; candidates
    come from a (band, sig) equi-join; exact cosine re-ranks."""
    dim = _vec_dim(corpus, vec_col)
    stack = np.vstack(
        [
            _planes(dim, planes_per_band, f"ariadne-lsh-band{b}")
            for b in range(bands)
        ]
    )
    sig = _band_signature_udf(stack, bands, planes_per_band)
    c = (
        _ensure_parallelism(corpus)
        .select(F.col(corpus_id), F.col(vec_col).alias("__cv"), sig(F.col(vec_col)).alias("__sigs"))
        .select(corpus_id, "__cv", F.posexplode("__sigs").alias("__band", "__sig"))
    )
    q = (
        queries.select(F.col(query_id), F.col(vec_col).alias("__qv"), sig(F.col(vec_col)).alias("__sigs"))
        .select(query_id, "__qv", F.posexplode("__sigs").alias("__band", "__sig"))
    )
    if multiprobe:
        flips = F.array(
            F.col("__sig"),
            *[
                F.col("__sig").bitwiseXOR(F.lit(1 << b))
                for b in range(planes_per_band)
            ],
        )
        q = q.select(
            query_id, "__qv", "__band", F.explode(flips).alias("__sig")
        )
    return _bucket_rerank(c, q, ["__band", "__sig"], k, query_id, corpus_id)


# ------------------------------------------------------------------ IVF

def _centroids(corpus: DataFrame, corpus_id: str, vec_col: str, n: int) -> np.ndarray:
    """Deterministic centroid pick: the n corpus vectors with the
    smallest md5(id) — a uniform pseudo-random sample that needs no RNG
    state and no iterative k-means (collect is n×dim floats,
    driver-bounded). md5 (not xxhash64) so an external SQL engine can
    reproduce the exact pick — the sim_ann_ivf oracle twin recomputes
    these centroids in DuckDB."""
    rows = (
        corpus.select(F.col(corpus_id).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(n)
        .collect()
    )
    return np.array([r["__v"] for r in rows], dtype=np.float64)


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 64,
    max_iter: int = 10,
    seed: int = 7,
) -> np.ndarray:
    """TRAINED IVF cells via Spark MLlib k-means with cosine distance
    — the idiomatic Spark path to balanced inverted lists (the
    hash-pick in :func:`_centroids` is O(0) training but leaves cell
    sizes at the mercy of the data distribution; trained centroids
    cut the largest-cell tail, which at 100 TB bounds the worst probe
    task). Distributed Lloyd's iterations run JVM-side on the
    executors; the driver only ever holds k×dim floats. Zero vectors
    are excluded (cosine distance is undefined on them — they can
    never be a cosine neighbor anyway)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = (
        df.select(F.col(vec_col).cast("array<double>").alias("__a"))
        .where(F.col("__a").isNotNull() & (_norm(F.col("__a")) > 0))
        .select(array_to_vector(F.col("__a")).alias("features"))
    )
    model = KMeans(
        k=k, maxIter=max_iter, seed=seed, distanceMeasure="cosine"
    ).fit(feats)
    return np.array(
        [np.asarray(c) for c in model.clusterCenters()], dtype=np.float64
    )


def _nearest_centroids_udf(cents: np.ndarray, n_probe: int):
    """Top-``n_probe`` centroid ids by cosine for each vector."""
    import pandas as pd

    norms = np.linalg.norm(cents, axis=1)
    norms[norms == 0] = 1.0

    def probe(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna().to_numpy()
        if not mask.any():
            return pd.Series([None] * len(vecs), dtype=object)
        mat = _stack(vecs[mask])
        vnorms = np.linalg.norm(mat, axis=1)
        vnorms[vnorms == 0] = 1.0
        cos = (mat @ cents.T) / (vnorms[:, None] * norms[None, :])
        top = np.argsort(-cos, axis=1)[:, :n_probe]
        return _scatter(len(vecs), mask, [[int(i) for i in row] for row in top])

    probe.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return F.pandas_udf(probe, T.ArrayType(T.IntegerType()))


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    n_centroids: int = 64,
    n_probe: int = 8,
    centroids: str = "hash",
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are assigned to
    their nearest centroid (one UDF scan — the inverted-file lists);
    each query probes its ``n_probe`` nearest centroids and re-ranks
    exactly inside them. Scan fraction ≈ n_probe/n_centroids.

    ``centroids``: ``'hash'`` (deterministic zero-training pick) or
    ``'kmeans'`` (MLlib-trained cosine k-means — balanced cells,
    see :func:`kmeans_centroids`).

    At lake scale, write the assignment out and cluster/partition the
    table by ``ivf_cell`` (or put a regular index on it) — the probe
    then prunes FILES, composing with the engine's locate path."""
    if centroids == "kmeans":
        cents = kmeans_centroids(corpus, vec_col, n_centroids)
    elif centroids == "hash":
        cents = _centroids(corpus, corpus_id, vec_col, n_centroids)
    else:
        raise ValueError(f"unsupported centroids mode: {centroids}")
    assign = _nearest_centroids_udf(cents, 1)
    probe = _nearest_centroids_udf(cents, n_probe)
    c = _ensure_parallelism(corpus).select(
        F.col(corpus_id),
        F.col(vec_col).alias("__cv"),
        F.element_at(assign(F.col(vec_col)), 1).alias("__cell"),
    )
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("__qv"),
        F.explode(probe(F.col(vec_col))).alias("__cell"),
    )
    return _bucket_rerank(c, q, "__cell", k, query_id, corpus_id)


def ivf_index_build(
    corpus: DataFrame,
    out_dir: str,
    index_name: str,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 64,
    n_files: int = 8,
    spark=None,
):
    """The lake-scale IVF move: materialize the inverted file.

    Assigns every corpus vector its nearest centroid (``ivf_cell``),
    rewrites the corpus range-clustered by cell (disjoint cell ranges
    per file), registers the files under an engine index with a
    regular index on ``ivf_cell``, and persists the centroids as a
    sidecar next to the data. A probe then composes with the engine's
    own locate path: it reads only the FILES whose cells are probed —
    at 100 TB that is the difference between an 8/64-cell scan and a
    full-corpus scan, with no long-lived cluster state (centroids are
    16 KB of JSON; everything else is plain parquet + the index).

    Returns ``(Index, centroids_path)``. Query with
    :func:`ivf_index_topk`."""
    import json as _json

    from ..index import Index
    from ..storage.fs import get_fs, join as fs_join

    spark = spark or corpus.sparkSession
    cents = _centroids(corpus, corpus_id, vec_col, n_centroids)
    assign = _nearest_centroids_udf(cents, 1)
    assigned = corpus.withColumn(
        "ivf_cell", F.element_at(assign(F.col(vec_col)), 1)
    )
    from .layout import cluster_files

    files = cluster_files(assigned, out_dir, "ivf_cell", n_files=n_files)
    fs = get_fs(spark, out_dir)
    cent_path = fs_join(out_dir, "_ivf_centroids.json")
    fs.write_atomic(
        cent_path,
        _json.dumps({"n": int(cents.shape[0]), "dim": int(cents.shape[1]),
                     "vectors": cents.tolist()}),
    )
    idx = Index.for_name(
        index_name,
        schema=assigned.schema,
        format="parquet",
        spark=spark,
    )
    idx.add_index("ivf_cell")
    idx.add_files(files)
    idx.update()
    return idx, cent_path


def ivf_index_topk(
    index,
    centroids_path: str,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    n_probe: int = 8,
) -> DataFrame:
    """Probe an :func:`ivf_index_build` index: per query, pick the
    ``n_probe`` nearest centroids, locate only the files holding those
    cells through the engine index, and re-rank exactly inside them.
    The scan is bounded by the located files (≈ n_probe/n_centroids of
    the corpus when cells are clustered one-per-file-range), not the
    corpus."""
    import json as _json

    from ..storage.fs import get_fs, read_json

    spark = index.spark
    blob = read_json(get_fs(spark, centroids_path), centroids_path)
    cents = np.array(blob["vectors"], dtype=np.float64)
    probe = _nearest_centroids_udf(cents, n_probe)
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("__qv"),
        F.explode(probe(F.col(vec_col))).alias("ivf_cell"),
    ).cache()
    cells = sorted({r["ivf_cell"] for r in q.select("ivf_cell").distinct().collect()})
    files = index.locate_files({"ivf_cell": cells})
    data = index.read_files(files, extra_columns=["ivf_cell"])
    c = data.select(
        F.col(corpus_id), F.col(vec_col).alias("__cv"), "ivf_cell"
    ).where(F.col("ivf_cell").isin(cells))
    return _bucket_rerank(c, q, "ivf_cell", k, query_id, corpus_id)


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    bucket_cap: int = 20000,
    bands: int = 3,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via OR-amplified LSH
    bucketing: pairs colliding in ANY of ``bands`` independent
    ``n_planes``-bit signatures, exact-cosine verified ≥ threshold
    (id_a < id_b).

    Recall: a single signature misses a pair whenever ONE of its
    n_planes hyperplanes separates the two vectors — for a pair at
    angle θ that happens with probability 1-(1-θ/π)^n_planes, which is
    non-negligible even at cosine ≈ 0.9999 (r03 verdict: planted pair
    (1071, 1001071), cosine 0.999998, split 473 vs 475 by one
    near-boundary plane). OR-amplification over ``bands`` independent
    sha256-seeded plane sets drives the miss probability to
    (1-(1-θ/π)^n_planes)^bands — for that pair, ~1e-7 at bands=3 —
    the same banded S-curve :func:`lsh_ann_topk_banded` uses. All
    band signatures come from ONE matmul per Arrow batch; candidates
    are unioned across bands by the (band, sig) equi-join and deduped
    after the exact verify, so precision is unaffected.

    Scale guard: an adversarial (highly-clustered) corpus collapses
    into few LSH buckets, and a plain within-bucket self-join then
    builds one quadratic join task. Cosine LSH has no pigeonhole
    split that preserves recall (unlike simhash's sub-chunks, see
    dedup.simhash_candidate_pairs), so oversized (band, sig) buckets
    are instead cut into ``ceil(n/bucket_cap)`` hash-assigned chunks
    and joined chunk-pair by chunk-pair: the left side replicates each
    row to every chunk ≥ its own, the right side keys by its chunk, so
    every within-bucket pair appears in exactly one (ca ≤ cb) cell.
    The candidate set is *identical* to the uncapped join — total work
    is still pair-proportional (inherent), but each join cell is at
    most ~bucket_cap² and the quadratic work spreads across the
    cluster instead of one straggler task. Buckets under the cap
    degenerate to the plain single-cell join (replication factor 1).

    Bucket sizes come from one broadcastable groupBy (≤ bands·2^n_planes
    rows). The chunked frame is cached: both join sides would
    otherwise recompute the signature UDF over the full corpus."""
    stack = np.vstack(
        [
            _planes(_vec_dim(df, vec_col), n_planes, f"ariadne-lsh-band{b}")
            for b in range(bands)
        ]
    )
    sig = _band_signature_udf(stack, bands, n_planes)
    with_b = (
        _ensure_parallelism(df)
        .select(F.col(id_col), F.col(vec_col), sig(F.col(vec_col)).alias("__sigs"))
        .select(id_col, vec_col, F.posexplode("__sigs").alias("__band", "__sig"))
    )
    # only buckets of ≥2 rows can produce pairs: filtering them first
    # shrinks both self-join sides to the colliding rows and makes the
    # bucket-size broadcast duplicate-proportional, not corpus-sized
    counts = (
        with_b.groupBy("__band", "__sig")
        .agg(F.count("*").alias("__bn"))
        .where(F.col("__bn") > 1)
    )
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.col("__bn") / F.lit(bucket_cap))
    ).cast("int")
    base = (
        with_b.join(F.broadcast(counts), ["__band", "__sig"])
        .withColumn("__nch", n_chunks)
        .withColumn(
            "__ch",
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string"), F.lit("emb-chunk")),
                F.col("__nch"),
            ).cast("int"),
        )
        .cache()
    )
    l = base.select(
        "__band",
        "__sig",
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
        F.explode(F.sequence(F.col("__ch"), F.col("__nch") - F.lit(1))).alias(
            "__cb"
        ),
    )
    r = base.select(
        "__band",
        "__sig",
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
        F.col("__ch").alias("__cb"),
    )
    sim = _pair_cosine(F.col("__va"), F.col("__vb"))
    out = (
        l.join(r, ["__band", "__sig", "__cb"])
        .where(F.col("__ida") != F.col("__idb"))
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            F.round(sim, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    ).cache()
    out.count()  # pair-proportional (small); free the chunked corpus
    base.unpersist()
    return out


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    bucket_cap: int = 20000,
    bands: int = 3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023 —
    public arXiv:2303.09540): collapse groups of embedding-space
    near-duplicates to one representative each.

    Pairs come from :func:`embedding_near_dup` (OR-amplified LSH
    candidates, exact-cosine verified ≥ ``threshold``); groups are the
    connected components of the pair graph (cosine-near-dup is not
    transitive, so pairwise dropping alone is order-dependent — the
    component closure makes the keep-set canonical and deterministic);
    the representative is the minimum id of each component.

    Output: one row per input id — ``(id, rep_id, is_kept)`` where
    ``is_kept`` marks the component representative (singletons keep
    themselves). Filtering ``is_kept`` gives the deduplicated corpus;
    joining ``rep_id`` back re-labels duplicates for attribution.

    Scale shape: inherits the near-dup pair machinery (banded LSH,
    bucket-cap chunking, never all-pairs) plus the O(log n)
    large-star/small-star component rounds from
    :mod:`ariadne_spark.operators.graph` — no driver-side state
    anywhere. Deterministic: sha256-seeded planes, exact verify,
    min-id representatives.
    """
    from .graph import connected_components

    pairs = embedding_near_dup(
        df,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        bucket_cap=bucket_cap,
        bands=bands,
    )
    comp = connected_components(
        pairs,
        src="id_a",
        dst="id_b",
        nodes=df.select(id_col),
        node_col=id_col,
    )
    return comp.select(
        F.col("node").alias(id_col),
        F.col("component").alias("rep_id"),
        (F.col("node") == F.col("component")).alias("is_kept"),
    )


def knn_classify(
    reference: DataFrame,
    queries: DataFrame,
    k: int = 15,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification: for each query vector, the
    ``k`` nearest reference vectors by cosine (exact, deterministic
    tie-break — see :func:`cosine_topk`) vote with their labels; the
    label with the most votes wins, vote ties broken toward the
    smaller label. Returns ``(query_id, pred_label, votes)``.

    The standard embedding-space auto-labeling / quality-probing step
    of a training-data pipeline (kNN over a labeled seed set). Exact
    and fully SQL-expressible, so it carries a DuckDB oracle; at lake
    scale swap :func:`cosine_topk` for :func:`ivf_index_topk` and keep
    the voting tail unchanged.

    Shape at scale: scoring is the exact top-k path's Arrow corpus
    scan against the driver-collected queries (the small side; the
    call collects them eagerly); voting is two partial-aggregatable
    groupBys over ≤ queries·k rows — no window over data, no skew
    exposure."""
    topk = cosine_topk(
        reference, queries, k=k,
        corpus_id=corpus_id, query_id=query_id, vec_col=vec_col,
    )
    labels = reference.select(
        F.col(corpus_id), F.col(label_col).alias("__lbl")
    )
    votes = topk.join(labels, corpus_id).groupBy(query_id, "__lbl").agg(
        F.count(F.lit(1)).alias("votes")
    )
    # winner = max votes, vote ties -> smaller label: max_by over a
    # (votes, preference) struct is partial-aggregatable (one row of
    # state per query per task), unlike a row_number window. The
    # preference inverts the label order via a literal map — a bare
    # ``-label`` would implicit-cast STRING labels to double (NULL),
    # silently losing the tie-break (r06 review finding); the class
    # set is small by construction, so the driver collect is bounded.
    labels_sorted = sorted(
        r[0]
        for r in reference.select(label_col).distinct().collect()
        if r[0] is not None
    )
    pref = F.create_map(
        *[
            x
            for i, lbl in enumerate(labels_sorted)
            for x in (F.lit(lbl), F.lit(len(labels_sorted) - i))
        ]
    )
    return votes.groupBy(query_id).agg(
        F.max_by(
            F.col("__lbl"), F.struct(F.col("votes"), pref[F.col("__lbl")])
        ).alias("pred_label"),
        F.max("votes").alias("votes"),
    )


def diversity_sample(
    corpus: DataFrame,
    n_per_cell: int = 10,
    n_cells: int = 64,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "hash",
) -> DataFrame:
    """Cluster-balanced diversity sampling (embedding-space coreset):
    assign every vector to its nearest-cosine cell, then keep each
    cell's ``n_per_cell`` smallest-md5(id) rows — a uniform draw
    WITHIN every region of embedding space, so dense regions can't
    crowd out rare ones (the embedding-side complement of
    :func:`~ariadne_spark.operators.corpus.temperature_sample`'s
    source-side rebalancing). Returns the sampled rows with their
    ``cell``.

    Scale shape: one Arrow-batched UDF scan for the assignment (the
    same inverted-file machinery as :func:`ivf_ann_topk` — centroids
    are k x dim driver floats, never the data) + ONE shuffle on the
    cell with the literal quota bound compiling to WindowGroupLimit,
    so mega-cells pre-top map-side (quota_sample's plan contract).
    ``centroids='hash'`` keeps the whole pipeline deterministic and
    SQL-reproducible (the md5 centroid pick of :func:`_centroids`) —
    the oracle twin recomputes assignment AND sample; ``'kmeans'``
    trades that for balanced cells via MLlib. NULL/unassignable
    vectors are dropped — a diversity quota keyed on nothing is
    meaningless (domain_quota's NULL contract)."""
    from .corpus import quota_sample

    if centroids == "kmeans":
        cents = kmeans_centroids(corpus, vec_col, n_cells)
    elif centroids == "hash":
        cents = _centroids(corpus, corpus_id, vec_col, n_cells)
    else:
        raise ValueError(f"unsupported centroids mode: {centroids}")
    assign = _nearest_centroids_udf(cents, 1)
    assigned = _ensure_parallelism(corpus).withColumn(
        "cell", F.element_at(assign(F.col(vec_col)), 1)
    )
    return quota_sample(
        assigned.where(F.col("cell").isNotNull()),
        "cell",
        n_per_cell,
        id_col=corpus_id,
    )


def _ranked_avg(pairs: DataFrame, key: str) -> DataFrame:
    """Mean of each key's top-k cosines, summed in RANK order via an
    explicit array fold — groupBy(avg) would merge partials in
    shuffle-fetch order, which is not reproducible across engines;
    the rank-ordered left fold is (DuckDB's list_reduce is the same
    left fold, pinned by the bitext oracle)."""
    arr = F.transform(
        F.sort_array(F.collect_list(F.struct("rank", "cosine"))),
        lambda s: s["cosine"],
    )
    total = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
    return pairs.groupBy(key).agg(
        (total / F.size(arr)).alias(f"__avg_{key}")
    )


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    src_id: str = "src_id",
    tgt_id: str = "tgt_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    ratio-margin criterion): for every source sentence embedding,
    the best target candidate scored by

        margin(x, y) = 2 * cos(x, y) / (avg_x + avg_y)

    where ``avg_x`` is the mean cosine of x's k nearest targets and
    ``avg_y`` the mean of y's k nearest sources — the margin
    normalizes away hubness, the failure mode of raw-cosine mining.
    Returns one row per source whose best margin clears
    ``threshold``: ``(src_id, tgt_id, margin)``.

    Determinism/oracle: candidate cosines are the ROUNDED outputs of
    :func:`cosine_topk` (both directions), the k-NN means are
    rank-ordered left folds (see :func:`_ranked_avg` — never a
    shuffle-order float sum), the margin is two exact-input IEEE ops,
    and the best-per-source pick is a ``row_number`` window ordered
    (margin desc, tgt_id asc) — ties break toward the smaller target
    id with no id cast (ids may be strings) — bit-reproducible in
    DuckDB, so the whole miner is value-oracled.

    The returned frame is PERSISTED (the large pair-score
    intermediate is already released before return); callers running
    many mines in one session should ``unpersist()`` the result when
    done with it, or storage memory accumulates a cached copy per
    call.

    Scale shape: the exact :func:`cosine_scores` pair pass collects
    the source side to the driver — fine when one language side fits
    there (the knn_classify contract); for two lake-scale sides,
    generate the same (query, candidate, rank, cosine) shape with the
    IVF/PQ path (:func:`ivf_index_topk` /
    :func:`~ariadne_spark.operators.quantization.ivf_pq_topk`) and
    feed it here — everything downstream is one groupBy per side
    plus a broadcast join onto the k-row-per-source candidate set."""
    # ONE pair scan serves both directions (IEEE dot/multiply
    # commute bit-for-bit, so cos(x,y) == cos(y,x) exactly — the
    # oracle's single symmetric CTE relies on the same fact).
    # Persisted + materialized so the two direction windows read the
    # scored pairs once instead of re-running the cross scan
    # (measured 8.2 s -> the single-scan shape at sf0.1); both
    # rank<=k filters compile to WindowGroupLimit, so each shuffle
    # carries ~k rows per group, not the full pair set.
    scores = cosine_scores(
        _ensure_parallelism(tgt),  # 1-file reads would fold 1M pairs on 1 core
        src,
        corpus_id=tgt_id,
        query_id=src_id,
        vec_col=vec_col,
    ).persist()
    scores.count()

    fwd = _topk_ranked(scores, k, src_id, tgt_id)
    bwd = _topk_ranked(scores, k, tgt_id, src_id)
    ax = _ranked_avg(fwd, src_id)
    ay = _ranked_avg(bwd, tgt_id)
    cand = (
        fwd.join(F.broadcast(ax), src_id)
        .join(F.broadcast(ay), tgt_id)
        .select(
            src_id,
            tgt_id,
            (
                2.0 * F.col("cosine")
                / (F.col(f"__avg_{src_id}") + F.col(f"__avg_{tgt_id}"))
            ).alias("margin"),
        )
    )
    # best-per-source via row_number, not a negated-id struct max:
    # ids may be strings (ANSI would fail the cast, non-ANSI would
    # silently invert the tie order); the window partitions carry at
    # most k rows per source, so there is no skew exposure
    wbest = Window.partitionBy(src_id).orderBy(
        F.col("margin").desc(), F.col(tgt_id).asc()
    )
    out = (
        cand.withColumn("__rk", F.row_number().over(wbest))
        .where((F.col("__rk") == 1) & (F.col("margin") > F.lit(float(threshold))))
        .select(src_id, tgt_id, F.round("margin", 6).alias("margin"))
    )
    # materialize the (small, one-row-per-source) result so the big
    # pair-score cache can be released — the simhash banded-pairs
    # pattern (cache the small output, free the large intermediate)
    out = out.persist()
    out.count()
    scores.unpersist()
    return out
