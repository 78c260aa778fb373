"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard — the standard near-dup arsenal of an LLM data pipeline,
designed shuffle-light for 100 TB:

* exact dedup: one hash shuffle on the dedup keys.
* MinHash: all k minhash values come from one Arrow-batched numpy
  pass per row (no explode, no shuffle). LSH banding turns
  candidate generation into an equi-join on (band, band_hash); exact
  Jaccard is verified only on banded candidates (never all pairs).
* SimHash: 64 per-bit sums in one groupBy; candidate pairs via
  16-bit chunk blocking (Hamming ≤ 3 must share ≥1 of 4 chunks).

Everything is deterministic: hashes are ``xxhash64`` (seeded by
literal suffixes), sha256-derived MinHash constants or md5 (SimHash),
so results are stable across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import ensure_parallelism as _ensure_parallelism


# ------------------------------------------------------------------ exact

def exact_dedup(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    keeper=None,
) -> DataFrame:
    """Keep one row per distinct ``keys`` combination.

    ``keeper=None`` (default): the row with the smallest ``id_col``
    survives. ``keeper=<numeric Column>``: the row with the LARGEST
    keeper value survives (real pipelines keep the longest or
    highest-quality duplicate, not the lowest id — e.g.
    ``keeper=F.length("text")`` or a quality score); ties break to
    the smallest id, so the result stays deterministic.

    Implemented as ``min_by`` aggregation, not a window: min_by is a
    partial-aggregatable DeclarativeAggregate, so a hot key (think:
    millions of empty documents sharing one normalized text) combines
    MAP-SIDE before the shuffle instead of serializing every duplicate
    row through a single window-sort task. The keeper folds into the
    same ordering struct (negated, so one min_by handles the
    max-keeper-then-min-id composite), keeping the one-shuffle shape.

    Null handling: null keeper values lose to any non-null keeper;
    the smallest NON-null id wins ties; a group whose ids are all
    null still keeps one real row (guarded by the (isNull, value)
    ordering fields, which are never null themselves).

    This same primitive is the cluster-canonicalization step after
    connected-components dedup: ``exact_dedup(assigned,
    ["component"], id_col, keeper=quality)`` keeps one canonical
    document per duplicate cluster."""
    id_key = [df[id_col].isNull().alias("n"), df[id_col].alias("v")]
    if keeper is None:
        order_key = F.struct(*id_key)
    else:
        order_key = F.struct(
            keeper.isNull().alias("kn"),
            (-keeper).alias("k"),
            *id_key,
        )
    winner = F.min_by(F.struct(*[df[c] for c in df.columns]), order_key)
    return df.groupBy(*keys).agg(winner.alias("__w")).select("__w.*")


def exact_dedup_normalized(
    df: DataFrame, text_col: str, id_col: str, keeper=None
) -> DataFrame:
    """Exact dedup on whitespace/case-normalized text (``keeper`` as
    in :func:`exact_dedup`)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    out = df.withColumn("__norm", norm)
    deduped = exact_dedup(out, ["__norm"], id_col, keeper=keeper)
    return deduped.drop("__norm")


# ------------------------------------------------------------------ minhash

def _minhash_fast_udf(num_hashes: int, shingle_len: int):
    """Vectorized minhash: numpy sliding-window shingling + one
    polynomial gram hash + k affine permutations (uint64 wraparound
    arithmetic), Arrow-batched. This is the 'UDFs are the slow path —
    except when the built-in expression tree is slower' case: the
    equivalent Catalyst pipeline (transform+substring per gram, or
    explode+groupBy with k aggregates) evaluates tens of millions of
    per-element expressions; one numpy matmul-min does it in-core.
    Constants derive from sha256 so results are deterministic
    everywhere."""
    import hashlib

    import numpy as np
    import pandas as pd

    def _const(tag: str, i: int) -> int:
        d = hashlib.sha256(f"ariadne-minhash:{tag}:{i}".encode()).digest()
        return int.from_bytes(d[:8], "little") | 1  # odd

    A = np.array([_const("a", i) for i in range(num_hashes)], dtype=np.uint64)
    B = np.array([_const("b", i) for i in range(num_hashes)], dtype=np.uint64)
    R = np.uint64(1099511628211)  # FNV-ish odd multiplier

    def sig(texts: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                cp = np.frombuffer(
                    t.lower().encode("utf-32-le"), dtype=np.uint32
                ).astype(np.uint64)
                if len(cp) < shingle_len:
                    out.append([0] * num_hashes)
                    continue
                win = np.lib.stride_tricks.sliding_window_view(cp, shingle_len)
                g = np.zeros(win.shape[0], dtype=np.uint64)
                for j in range(shingle_len):  # polynomial hash, wraps mod 2^64
                    g = g * R + win[:, j]
                g = np.unique(g)
                h = (A[:, None] * g[None, :] + B[:, None]).min(axis=1)
                out.append([int(x) - (1 << 63) for x in h])  # to signed long
        return pd.Series(out)

    sig.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(sig, "array<long>")


def minhash_signatures_fast(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_len: int = 5,
) -> DataFrame:
    """Zero-shuffle minhash signatures straight from the text column;
    columns __id, h0..h{k-1}."""
    df = _ensure_parallelism(df)
    arr = _minhash_fast_udf(num_hashes, shingle_len)(F.col(text_col))
    sig = df.select(F.col(id_col).alias("__id"), arr.alias("__sig"))
    # one SQL projection: a Column per hash costs a py4j round trip each
    return sig.selectExpr(
        "__id", *[f"__sig[{i}] AS h{i}" for i in range(num_hashes)]
    )


def band_projection(
    signatures: DataFrame, num_hashes: int = 64, bands: int = 8
) -> DataFrame:
    """(__id, band, sig) rows: the signature split into ``bands``
    chunks of k/bands hashes, each chunk hashed to one 64-bit band
    key. Shared by batch LSH and the incremental signature-store path
    so banding can never diverge between them."""
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        band_structs.append(f"named_struct('band', {b}, 'sig', xxhash64({cols}))")
    # one SQL expression (per-Column builders cost a py4j round trip each)
    return signatures.selectExpr(
        "__id", f"explode(array({', '.join(band_structs)})) AS b"
    ).selectExpr("__id", "b.band AS band", "b.sig AS sig")


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 64,
    bands: int = 8,
    bucket_cap: int = 20000,
) -> DataFrame:
    """Band the signature (rows per band = k/bands), hash each band,
    and equi-join on (band, hash) to get candidate pairs (a < b).

    Scale guard (same pattern as similarity.embedding_near_dup): a
    mass-duplicated corpus — one boilerplate string cloned millions of
    times — collapses into one (band, sig) bucket, and a plain
    within-bucket self-join then builds the whole n²/2 in ONE task.
    Buckets over ``bucket_cap`` rows are cut into ceil(n/bucket_cap)
    hash-assigned chunks and joined chunk-pair by chunk-pair: the left
    side replicates each row to every chunk ≥ its own, the right side
    keys by its chunk, so every within-bucket pair lands in exactly one
    (ca ≤ cb) cell. The candidate set is IDENTICAL to the uncapped join
    (total work stays pair-proportional — inherent) but each join cell
    is at most ~bucket_cap² and the quadratic work spreads across the
    cluster instead of one straggler task. Buckets under the cap
    degenerate to the plain single-cell join (replication factor 1);
    bucket sizes come from one broadcastable groupBy (≤ bands·|buckets|
    rows) whose exchange Spark reuses across the two join sides."""
    banded = band_projection(signatures, num_hashes, bands)
    # only buckets of ≥2 rows can produce pairs: filtering them first
    # shrinks BOTH self-join sides from O(corpus·bands) to
    # O(colliding rows), and makes the bucket-size broadcast
    # duplicate-proportional instead of corpus-proportional
    counts = (
        banded.groupBy("band", "sig")
        .agg(F.count("*").alias("__bn"))
        .where(F.col("__bn") > 1)
    )
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.col("__bn") / F.lit(bucket_cap))
    ).cast("int")
    base = (
        banded.join(F.broadcast(counts), ["band", "sig"])
        .withColumn("__nch", n_chunks)
        .withColumn(
            "__ch",
            F.pmod(
                F.xxhash64(F.col("__id").cast("string"), F.lit("minhash-chunk")),
                F.col("__nch"),
            ).cast("int"),
        )
    )
    l = base.select(
        "band",
        "sig",
        F.col("__id").alias("__ida"),
        F.explode(F.sequence(F.col("__ch"), F.col("__nch") - F.lit(1))).alias(
            "__cb"
        ),
    )
    r = base.select(
        "band", "sig", F.col("__id").alias("__idb"), F.col("__ch").alias("__cb")
    )
    return (
        l.join(r, ["band", "sig", "__cb"])
        # pairs straddling two chunks appear in ONE orientation only, so
        # order with least/greatest rather than filtering __ida < __idb
        .where(F.col("__ida") != F.col("__idb"))
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
        )
        .distinct()
    )


def near_dup_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_len: int = 5,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard
    verification: returns (id_a, id_b, jaccard) where jaccard ≥
    threshold. False negatives are the usual LSH ones (pairs that
    collide in no band).

    Band geometry matters at scale: the LSH collision S-curve has its
    knee near (1/bands)^(rows_per_band⁻¹); the default 8 bands × 8
    rows targets ~0.77, so a 0.8 threshold doesn't flood the verify
    join with low-similarity candidates (a 16×4 geometry on a
    shared-vocabulary corpus produced 100× more candidates than true
    pairs)."""
    # signatures feed the band self-join AND both sides of the
    # estimate join — cache them or the UDF runs 4×
    sigs = minhash_signatures_fast(
        df, text_col, id_col, num_hashes, shingle_len
    ).cache()
    cands = lsh_candidate_pairs(sigs, num_hashes, bands)
    # Estimate-prefilter: the fraction of agreeing minhashes is an
    # unbiased Jaccard estimate; drop candidates clearly below the
    # threshold BEFORE the expensive exact-verify shingle join (on a
    # shared-vocabulary corpus banding alone lets through many
    # mid-similarity pairs whose shingle join dominates runtime).
    # Margin 3σ ≈ 3·sqrt(t(1-t)/k) keeps true positives.
    import math

    margin = 3 * math.sqrt(threshold * (1 - threshold) / num_hashes)
    # agreement from ONE signature-array zip_with/aggregate, not 64
    # per-column `when` terms: the 64-term codegen expression over a
    # 128-column join was the r05 bench regression suspect, and the
    # array form also keeps the candidate join two narrow columns wide
    sig_arr = F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
    arr_a = sigs.select(F.col("__id").alias("id_a"), sig_arr.alias("__sa"))
    arr_b = sigs.select(F.col("__id").alias("id_b"), sig_arr.alias("__sb"))
    agree = F.aggregate(
        F.zip_with("__sa", "__sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = (
        cands.join(arr_a, "id_a")
        .join(arr_b, "id_b")
        .withColumn("__est", agree / F.lit(num_hashes))
        .where(F.col("__est") >= threshold - margin)
        .select("id_a", "id_b")
    ).cache()
    # no standalone est.count(): verify_jaccard_arrays' first action
    # (the candidate-id semi-join) materializes the est cache, saving a
    # full extra job; the sigs cache stays alive until then
    verified = verify_jaccard_arrays(
        est, df, text_col, id_col, shingle_len, threshold
    )
    sigs.unpersist()
    est.unpersist()
    return verified


def _gram_array_udf(n: int):
    """Distinct char n-grams of lower(text) as an array<string> — an
    Arrow-vectorized replacement for the ``array_distinct(char_ngrams)``
    expression on the verify path. The HOF form evaluates one substring
    expression per gram per row (~1M Catalyst evals for a few hundred
    candidate docs); a Python set comprehension per doc in one Arrow
    batch is the same ~50x trade :func:`_gram_set_key_udf` makes."""
    import pandas as pd

    def grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            s = t.lower()
            out.append(list({s[i: i + n] for i in range(len(s) - n + 1)}))
        return pd.Series(out)

    grams.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(grams, "array<string>")


def verify_jaccard_arrays(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact char-shingle Jaccard for candidate (id_a, id_b) pairs,
    computed over per-doc gram ARRAYS + array_intersect: two broadcast
    joins over |candidates| rows instead of a 4-join shingle-row plan
    (the row form re-explodes the candidate texts once per join
    branch). Only candidate docs' grams are built (broadcast semi-join
    first), so cost is pairs-proportional, never corpus-proportional.
    Returns materialized (id_a, id_b, jaccard) with jaccard >=
    threshold, rounded to 6 — the driver-gate comparable form."""
    ids = (
        pairs.select(F.col("id_a").alias("__id"))
        .union(pairs.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    grams = (
        docs.join(
            F.broadcast(ids.withColumnRenamed("__id", id_col)), id_col, "left_semi"
        )
        .select(
            F.col(id_col).alias("__id"),
            _gram_array_udf(shingle_len)(F.col(text_col)).alias("__grams"),
        )
        .cache()
    )
    a = grams.select(F.col("__id").alias("id_a"), F.col("__grams").alias("__ga"))
    b = grams.select(F.col("__id").alias("id_b"), F.col("__grams").alias("__gb"))
    inter = F.size(F.array_intersect("__ga", "__gb"))
    verified = (
        pairs.select("id_a", "id_b")
        .join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                inter / (F.size("__ga") + F.size("__gb") - inter), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .cache()
    )
    verified.count()
    grams.unpersist()
    return verified


def near_dup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_len: int = 5,
) -> DataFrame:
    """The standard end-to-end near-dup pipeline: MinHash+LSH verified
    pairs → connected components → keep the canonical (minimum-id) row
    of every duplicate cluster. Pairwise dedup alone is NOT a valid
    keep-set (A~B and B~C with A≁C must still collapse to one
    survivor); the transitive closure is what production pipelines run
    (components via alternating large-star/small-star — see
    operators/graph.py)."""
    from .graph import dedup_clusters

    pairs = near_dup_minhash(
        df, text_col, id_col, threshold, num_hashes, bands, shingle_len
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return dedup_clusters(df, pairs, id_col)


# ------------------------------------------------------------------ simhash

def simhash_portable(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """64-bit SimHash with an ENGINE-PORTABLE hash family: per
    whitespace token, the first 16 hex chars of md5 are 16 nibbles =
    64 bits; bit ``b`` is bit ``b % 4`` of nibble ``b // 4`` (counted
    from the LEFT). Everything is string/integer built-ins with
    identical ANSI-SQL spellings, so the full near-pair result
    carries a value ORACLE.

    Shape: one token explode, the 16-hex hash decoded by TWO ``conv``
    calls into 32-bit halves, 64 shift-and-mask bit sums in ONE
    partial-aggregatable groupBy (map-side combine — a hot doc id
    never serializes its tokens through one task), signature packed
    from the 64 majority votes (bit 63 carries the sign).

    Built from SQL-TEXT expressions on purpose: composing the 129
    sub-expressions through pyspark Column operators costs ~1 s of
    py4j round-trips PER CALL before anything executes (measured),
    while three ``selectExpr``/``F.expr`` strings parse JVM-side in
    milliseconds. Higher-order-function lambdas are also avoided —
    fresh lambda-variable ids defeat CacheManager plan matching.
    NULL-text rows emit no signature row (and no pairs downstream);
    the pure-Python bit-convention pin lives in
    test_simhash_portable_semantics_and_hand_check."""
    toks = df.where(F.col(text_col).isNotNull()).selectExpr(
        f"`{id_col}` as __id",
        f"explode(split(trim(lower(`{text_col}`)), '\\\\s+')) as __tok",
    )
    w = toks.selectExpr(
        "__id",
        "cast(conv(substring(md5(__tok), 1, 8), 16, 10) as bigint) as __h1",
        "cast(conv(substring(md5(__tok), 9, 8), 16, 10) as bigint) as __h2",
    )
    parts = ["count(1) as __n"]
    for b in range(64):
        # hex char j holds bits 4*(7-j)+0..3 of its 32-bit half
        j, k = b // 4, b % 4
        col, s_ = ("__h1", 4 * (7 - j) + k) if j < 8 else ("__h2", 4 * (15 - j) + k)
        parts.append(f"sum(shiftright({col}, {s_}) & 1) as __c{b}")
    sums = w.groupBy("__id").agg(
        F.expr("struct(" + ", ".join(parts) + ")").alias("__s")
    )
    terms = []
    for b in range(64):
        val = (
            "(cast(-9223372036854775807 as bigint) - 1)"
            if b == 63
            else f"cast({1 << b} as bigint)"
        )
        terms.append(
            f"(case when __s.__c{b} * 2 > __s.__n then {val} else cast(0 as bigint) end)"
        )
    return sums.selectExpr(
        f"__id as `{id_col}`",
        "cast((" + " + ".join(terms) + ") as long) as simhash",
    )


def _simhash_rem_expr(c: int):
    """The 48 signature bits OUTSIDE 16-bit chunk ``c``, packed into
    one long (literal shifts only — codegen-friendly)."""
    sim = F.col("simhash")
    if c == 0:
        return F.shiftrightunsigned(sim, 16)
    if c == 3:  # JVM shifts are mod 64 — a shift by 64 would be a no-op
        return sim.bitwiseAND(F.lit((1 << 48) - 1))
    high = F.shiftleft(F.shiftrightunsigned(sim, 16 * (c + 1)), 16 * c)
    low = sim.bitwiseAND(F.lit((1 << (16 * c)) - 1))
    return high.bitwiseOR(low)


def simhash_candidate_pairs(
    sig_df: DataFrame, id_col: str, block_cap: int = 10000
) -> DataFrame:
    """Candidate pairs by two-level pigeonhole blocking.

    Level 1: 16-bit chunk blocking (hamming ≤ 3 ⇒ at least one of four
    16-bit chunks equal). Level 2 — the scale guard: any level-1 block
    larger than ``block_cap`` would self-join quadratically (at ≥10⁹
    docs a popular chunk value collapses into one giant block), so its
    members are re-blocked by the four 12-bit sub-chunks of the
    *remaining* 48 bits. Two docs sharing chunk ``ci`` with total
    hamming ≤ 3 differ in ≤ 3 of those 48 bits, so by pigeonhole at
    least one 12-bit sub-chunk is equal — completeness is preserved
    while the oversized block splits up to 4096 ways (×4 fan-out).

    Block sizes come from one broadcastable groupBy (≤ 4·2¹⁶ rows)."""
    chunks = [
        ((F.shiftrightunsigned(F.col("simhash"), 16 * c)).bitwiseAND(F.lit(0xFFFF))).alias(
            f"c{c}"
        )
        for c in range(4)
    ]
    base = sig_df.select(F.col(id_col).alias("__id"), F.col("simhash"), *chunks)
    blocked = base.select(
        "__id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("ci"),
                        F.col(f"c{c}").alias("cv"),
                        _simhash_rem_expr(c).alias("rem"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("b"),
    ).select(
        "__id",
        "simhash",
        F.col("b.ci").alias("ci"),
        F.col("b.cv").alias("cv"),
        F.col("b.rem").alias("rem"),
    )
    counts = blocked.groupBy("ci", "cv").agg(F.count("*").alias("__bn"))
    blocked = blocked.join(F.broadcast(counts), ["ci", "cv"])

    def _self_join(side: DataFrame, keys: list[str]) -> DataFrame:
        l, r = side.alias("l"), side.alias("r")
        cond = F.col("l.__id") < F.col("r.__id")
        for k in keys:
            cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
        return l.join(r, cond).select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )

    small = blocked.where(F.col("__bn") <= block_cap)
    big = blocked.where(F.col("__bn") > block_cap)
    sub = big.select(
        "__id",
        "simhash",
        "ci",
        "cv",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sj"),
                        (
                            F.shiftrightunsigned(F.col("rem"), 12 * s)
                        ).bitwiseAND(F.lit(0xFFF)).alias("sv"),
                    )
                    for s in range(4)
                ]
            )
        ).alias("s"),
    ).select(
        "__id", "simhash", "ci", "cv",
        F.col("s.sj").alias("sj"), F.col("s.sv").alias("sv"),
    )
    pairs = _self_join(small, ["ci", "cv"]).unionByName(
        _self_join(sub, ["ci", "cv", "sj", "sv"])
    )
    return pairs.distinct()


def simhash_near_pairs(
    sig_df: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    block_cap: int = 10000,
) -> DataFrame:
    """Near-duplicate pairs: blocked candidates (see
    ``simhash_candidate_pairs``), then exact hamming filter via
    bit_count(xor).

    Signatures are cached for the self-join: both join sides (and the
    broadcast build) would otherwise recompute the signature UDF from
    the raw text — 16 bytes/doc cached vs N full text scans. The
    small pairs result is materialized so the cache releases before
    returning."""
    sig_df = sig_df.cache()
    pairs = simhash_candidate_pairs(sig_df, id_col, block_cap)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out = (
        pairs.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    ).cache()
    out.count()  # pairs are candidate-proportional (small); free the sigs
    sig_df.unpersist()
    return out


# ------------------------------------------------------------------ n-gram set dedup

def _gram_set_key_udf(n: int):
    """md5 digest of the sorted set of 64-bit gram hashes (numpy
    sliding window + polynomial hash, same family as minhash)."""
    import hashlib

    import numpy as np
    import pandas as pd

    R = np.uint64(1099511628211)

    def key(texts: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                cp = np.frombuffer(
                    t.lower().encode("utf-32-le"), dtype=np.uint32
                ).astype(np.uint64)
                if len(cp) < n:
                    out.append("")
                    continue
                win = np.lib.stride_tricks.sliding_window_view(cp, n)
                g = np.zeros(win.shape[0], dtype=np.uint64)
                for j in range(n):
                    g = g * R + win[:, j]
                out.append(hashlib.md5(np.unique(g).tobytes()).hexdigest())
        return pd.Series(out)

    key.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(key, "string")


def ngram_set_dedup(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Documents whose sorted distinct n-gram SETS are identical are
    duplicates (robust to shuffled word order / repeated content);
    keep the smallest id per set. Groups by a 16-byte digest of the
    sorted gram-hash set computed in one vectorized Arrow UDF —
    shuffling a fixed-size key instead of the full gram array cuts
    shuffle volume ~50×, and the numpy shingling avoids the expensive
    per-gram substring expression tree (same trade as minhash)."""
    key = _gram_set_key_udf(n)(F.col(text_col))
    base = _ensure_parallelism(df)
    # min_by aggregation, not a window: partial-aggregatable, so a hot
    # gram-set (mass-duplicated boilerplate) combines map-side; the
    # (isNull, id) ordering key keeps all-null-id groups real (see
    # exact_dedup)
    order_key = F.struct(
        base[id_col].isNull().alias("n"), base[id_col].alias("v")
    )
    winner = F.min_by(
        F.struct(*[base[c] for c in base.columns]), order_key
    )
    return (
        base.groupBy(key.alias("__key"))
        .agg(winner.alias("__w"))
        .select("__w.*")
    )


# --------------------------------------------------- incremental minhash

# Frames (results + their intermediate inputs) from prior incremental
# dedup calls still holding cache. Any incremental_* call releases ALL
# of them — so consume a batch's result before issuing the next batch.
# An unconsumed result stays CORRECT after release (its history read
# is snapshot-pinned to pre-append part files), it just recomputes —
# UNLESS signature_store_compact / window_store_compact runs in
# between: compaction DELETES the pinned part files, and a
# post-eviction recompute then fails with FileNotFound rather than
# recomputing. Consume (or checkpoint) every incremental result before
# compacting its store; the compact docstrings repeat this contract.
_INCREMENTAL_LIVE: list = []


def signature_store_write(
    sigs: DataFrame, store_path: str, mode: str = "append"
) -> None:
    """Persist minhash signatures (``__id``, h0..h{k-1}) as parquet —
    the corpus-history side of incremental dedup. Appending a crawl
    batch is one columnar write; no global state, no driver memory.

    Each batch is stamped with a ``__seq`` column (driver wall-clock
    nanoseconds at append time): compaction's newest-wins rule keys on
    it, because filesystem mtime granularity can be as coarse as one
    second — two appends carrying the same re-crawled id could tie on
    mtime and keep a stale signature arbitrarily. The store is
    single-writer by contract (see :func:`signature_store_compact`),
    so one driver timestamp per batch is strictly monotone."""
    import time as _time

    sigs.withColumn("__seq", F.lit(_time.time_ns())).write.mode(mode).parquet(
        store_path
    )


def _snapshot_files(spark, store_path: str, kind: str) -> list[str]:
    """The store's CURRENT part files (empty when the store has never
    been written). A missing store with a crashed-compact ``.__old``
    sibling fails loudly instead of reading as "first batch"; any
    other listing failure (credentials, transport) propagates."""
    from ..storage.fs import get_fs

    fs = get_fs(spark, store_path)
    if not fs.exists(store_path):
        if fs.exists(store_path.rstrip("/") + ".__old"):
            raise OSError(
                f"{kind} store {store_path} missing but a .__old "
                "sibling exists: a compact crashed mid-swap; rename it "
                "back before running incremental dedup"
            )
        return []
    return sorted(fs.list_files(store_path, suffix=".parquet"))


def _snapshot_read(spark, files: list[str], schema=None) -> DataFrame | None:
    """Read an explicit part-file list. Pinning the plan to files
    (directories are append-mutable; written part files are immutable)
    makes lazy downstream results recompute-safe across the caller's
    own subsequent append — a cache eviction or executor loss re-reads
    exactly the pre-append history instead of counting the batch
    against itself. With ``schema`` the read runs no footer-inference
    job; a column a file lacks reads as null."""
    if not files:
        return None
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*files)


def _footer_id_type(path: str):
    """``__id``'s Spark type from one local part file's footer, read
    with pyarrow (no Spark job); None for a remote path."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    from ..storage.fs import scheme_of, strip_file_scheme

    if scheme_of(path) not in (None, "file"):
        return None
    return from_arrow_type(
        pq.read_schema(strip_file_scheme(path)).field("__id").type
    )


def _signature_schema(id_type, num_hashes: int):
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField("__id", id_type)]
        + [T.StructField(f"h{i}", T.LongType()) for i in range(num_hashes)]
        + [T.StructField("__seq", T.LongType())]
    )


def _read_signature_history(spark, files: list[str], num_hashes: int):
    """The pinned history files with the store's explicit schema —
    ``__id`` typed from one local footer, ``h0..h{k-1}`` and ``__seq``
    long, so a batch appended before the ``__seq`` stamp existed reads
    it as null. A remote store merges the footers' schemas instead."""
    if not files:
        return None
    id_type = _footer_id_type(files[0])
    if id_type is None:
        return spark.read.option("mergeSchema", "true").parquet(*files)
    return _snapshot_read(spark, files, _signature_schema(id_type, num_hashes))


def _read_signature_store(spark, store_path: str) -> DataFrame:
    """Read the store with schema merging: batches appended before the
    ``__seq`` stamp existed coexist with stamped ones, and the sampled
    footer a plain read uses could silently drop the column."""
    return spark.read.option("mergeSchema", "true").parquet(store_path)


def _compact_store(
    spark,
    store_path: str,
    kind: str,
    build_compacted,
    rows_per_file: int,
    cluster_by: list[str] | None = None,
) -> int:
    """Shared crash-safe compaction swap for append-per-batch history
    stores (signature store, window-count store, URL ledger):
    pre-check a crashed-swap ``.__old`` sibling, THEN build the
    compacted frame (``build_compacted()`` — deferred so a
    missing-store crash state raises the contractual mid-swap error,
    not a path-not-found from the read), write it to ``.__compact``
    in ``ceil(rows / rows_per_file)`` files, rename
    the live store ASIDE, rename the compacted copy into place,
    delete the old copy. At every intermediate state the history
    exists under a well-known name, and the read paths refuse to
    treat a missing store with an ``.__old`` sibling as 'first
    batch'. Single-writer by contract. Returns rows kept.

    ``cluster_by``: range-partition the rewrite on these columns
    instead of hash — a store probed through a per-file bloom index
    keeps its pruning power only if related keys stay CO-LOCATED;
    a hash rewrite smears every key range across every file and the
    next probe reads the whole store."""
    import math

    from ..storage.fs import get_fs

    fs = get_fs(spark, store_path)
    old = store_path.rstrip("/") + ".__old"
    tmp = store_path.rstrip("/") + ".__compact"
    if fs.exists(old):
        if not fs.exists(store_path):
            raise OSError(
                f"{kind} {store_path} missing but {old} exists: "
                "a prior compact crashed mid-swap; rename it back before "
                "compacting"
            )
        fs.delete(old, recursive=True)  # stale leftover, store is whole

    compacted = build_compacted()
    n = compacted.count()
    files = max(1, math.ceil(n / rows_per_file))
    if cluster_by:
        laid_out = compacted.repartitionByRange(
            files, *[F.col(c) for c in cluster_by]
        )
    else:
        laid_out = compacted.repartition(files)
    laid_out.write.mode("overwrite").parquet(tmp)
    if not fs.rename(store_path, old):
        raise OSError(f"rename {store_path} -> {old} failed")
    if not fs.rename(tmp, store_path):
        # roll back so the store is readable again
        fs.rename(old, store_path)
        raise OSError(f"rename {tmp} -> {store_path} failed")
    fs.delete(old, recursive=True)
    return n


def signature_store_compact(
    spark, store_path: str, rows_per_file: int = 2_000_000
) -> int:
    """Fold the append-per-batch signature store into few large files.

    Continuous crawling appends one file set per batch; after thousands
    of batches the store's read side pays per-file open costs on every
    incremental call. Rewrite to ``ceil(rows / rows_per_file)`` files.
    Re-crawled ids may appear once per crawl in the store; the NEWEST
    signature wins here (same supersede rule the incremental join
    applies at read time), so compaction also discards dead history.

    Consume (or checkpoint) any in-flight ``incremental_*`` result
    BEFORE compacting: those results pin the store's pre-append part
    files, which compaction deletes — a post-compaction recompute of an
    unconsumed lazy result fails with FileNotFound.

    NOT concurrent-writer-safe (plain directory swap — run it from the
    maintenance window that owns the store, e.g. under the same lock
    the ingest job uses). Returns the number of rows kept.

    Crash safety: the swap renames the old store ASIDE
    (``store.__old``), renames the compacted copy into place, then
    deletes the old copy — at every intermediate state the data
    exists under a well-known name, and the read path
    (:func:`incremental_near_dup`) refuses to treat a missing store
    with an ``.__old`` sibling as "first batch" (which would silently
    re-admit every historical near-duplicate). A leftover ``.__old``
    WITH the store present means a crash after the swap completed —
    safe to discard, done here on the next compact."""

    def build():
        df = _read_signature_store(spark, store_path)
        sig_cols = [c for c in df.columns if c not in ("__id", "__seq")]
        # newest-wins per id, keyed on the explicit batch sequence
        # stamp; pre-__seq batches fall back to source-file
        # modification time (coarse, but the best available for
        # legacy rows), rescaled to the same nanosecond unit so mixed
        # stores order correctly
        from pyspark.sql.functions import col, struct

        has_seq = "__seq" in df.columns
        meta = df.withColumn(
            "__mt",
            F.unix_micros(F.col("_metadata.file_modification_time"))
            * F.lit(1000),
        )
        order_key = (
            F.coalesce(col("__seq"), col("__mt")) if has_seq else col("__mt")
        )
        return (
            meta.withColumn("__ord", order_key)
            .groupBy("__id")
            .agg(
                F.max_by(
                    struct(*[col(c) for c in sig_cols]), col("__ord")
                ).alias("__s"),
                F.max("__ord").alias("__seq"),
            )
            .select("__id", "__s.*", "__seq")
        )

    return _compact_store(
        spark, store_path, "signature store", build, rows_per_file
    )


def incremental_near_dup(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_len: int = 5,
    update_store: bool = True,
    store_index=None,
) -> DataFrame:
    """Continuous-crawl near-dup: check a NEW batch of documents
    against the persisted signature history WITHOUT recomputing or
    rescanning historical text (the shape a 100 TB ingest pipeline
    needs — per-batch cost is O(batch + matching-band history), never
    O(corpus)).

    Returns (id_a, id_b, est_jaccard) pairs where at least one side is
    a new document and the signature-agreement estimate ≥ threshold
    (the text of historical docs is not available here, so the exact
    shingle verify of :func:`near_dup_minhash` is replaced by the
    unbiased k-sample estimate — at k=64 its σ at t=0.8 is ~0.05).

    Plan shape: new signatures are computed zero-shuffle; both sides
    band-explode (the store side is a parquet scan pruned to band
    rows); ONE equi-join on (band, band-hash) — history rows without a
    banding collision are never widened. With ``update_store`` the new
    signatures are appended for the next batch.

    Write-through: with ``update_store`` and a local ``store_index``
    whose batch band keys fit ``LOCAL_KEYS_MAX_BYTES`` and number at
    most ``WRITE_THROUGH_MAX_KEYS``, the append is one part file and ``Index.write_through`` commits its FileList and
    bloom rows from the keys the locate already collected — the next
    :func:`signature_store_index` refresh with the same handle is then
    a no-op that runs no Spark job. Otherwise that refresh folds the
    append in through Spark.
    """
    spark = new_docs.sparkSession
    # release the previous call's materialized result (kept cached so
    # the returned frame stays valid after the store append below)
    while _INCREMENTAL_LIVE:
        try:
            _INCREMENTAL_LIVE.pop().unpersist()
        except Exception:
            pass
    new_sigs = minhash_signatures_fast(
        new_docs, text_col, id_col, num_hashes, shingle_len
    ).cache()
    # Missing store = first batch; any OTHER read failure (credential,
    # corrupt footer, crashed-compact orphan) must PROPAGATE —
    # treating it as "no history" would silently admit every
    # historical near-duplicate. The read is pinned to the store's
    # CURRENT part files so a recompute of the lazy result after this
    # call's own append cannot band-join the batch against itself.
    if store_index is not None:
        # the index is only sound for the banding it bloomed: a
        # mismatched (num_hashes, bands) — or a name reused across
        # configs, which Index.for_name would silently keep — probes
        # keys the blooms never saw and would prune files holding REAL
        # collisions. Fail loudly instead of silently losing pairs —
        # and fail on the FIRST call even when the store is still
        # empty, so a misconfigured pipeline never starts quiet.
        cfg = store_index.meta.config_for("band_key")
        expected = _band_key_expression(num_hashes, bands)
        if cfg is None or cfg.expression != expected:
            raise ValueError(
                f"store_index {store_index.name!r} blooms "
                f"{None if cfg is None else cfg.expression!r} but this "
                f"call (num_hashes={num_hashes}, bands={bands}) probes "
                f"{expected!r}; rebuild the index with matching params "
                "(signature_store_index defaults must match the "
                "incremental_near_dup call's)"
            )
    listing = hist_files = _snapshot_files(spark, store_path, "signature")
    keys = None
    if store_index is not None and (hist_files or update_store):
        # engine-over-pipeline-store (see signature_store_index): only
        # files whose band-key bloom may contain one of the batch's
        # band keys are read — a novel batch's history read is ~zero
        # files instead of the whole store. Files the index hasn't
        # seen (e.g. this loop's own earlier appends before the next
        # index refresh) are ALWAYS read, so a lagging index widens
        # the scan, never loses a collision. The keys are collected
        # once, for this locate and the write-through of the append.
        probe = (
            band_projection(new_sigs, num_hashes, bands)
            .select(F.col("sig").alias("band_key"))
            .distinct()
        )
        keys = _local_keys(store_index, probe, "band_key", update_store)
        if hist_files:
            hist_files = _prune_snapshot_with_index(
                spark, hist_files, store_index,
                probe if keys is None else keys, column="band_key",
            )
    old_sigs = _read_signature_history(spark, hist_files, num_hashes)
    if old_sigs is not None:
        old_sigs = old_sigs.drop("__seq")
        # re-crawled ids: the NEW signature supersedes the stored one
        # (duplicate __id rows would multiply the est joins below)
        old_sigs = old_sigs.join(
            F.broadcast(new_sigs.select("__id")), "__id", "left_anti"
        )

    all_sigs = (
        new_sigs if old_sigs is None else old_sigs.unionByName(new_sigs)
    )
    # DIRECTED banding: explode only (new × all) band collisions.
    # Banding old∪new symmetrically would re-enumerate old×old pairs —
    # O(history²) at 100 TB; this stays O(batch × matching history).
    ln = band_projection(new_sigs, num_hashes, bands).alias("l")
    ra = band_projection(all_sigs, num_hashes, bands).alias("r")
    cands = (
        ln.join(
            ra,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.__id") != F.col("r.__id")),
        )
        .select(
            F.least(F.col("l.__id"), F.col("r.__id")).alias("id_a"),
            F.greatest(F.col("l.__id"), F.col("r.__id")).alias("id_b"),
        )
        .distinct()
    )
    agree = F.expr(
        " + ".join(
            f"CASE WHEN l.h{i} = r.h{i} THEN 1 ELSE 0 END"
            for i in range(num_hashes)
        )
    )
    l, r = all_sigs.alias("l"), all_sigs.alias("r")
    out = (
        cands.join(l, F.col("l.__id") == F.col("id_a"))
        .join(r, F.col("r.__id") == F.col("id_b"))
        .withColumn("est_jaccard", F.round(agree / F.lit(num_hashes), 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
        .cache()
    )
    if update_store:
        # safe to append before the caller consumes `out`: the history
        # side is snapshot-pinned, so even a post-append recompute of
        # the lazy plan band-joins against exactly the pre-append store
        _append_indexed(
            spark, store_path, "signature", listing, signature_store_write,
            new_sigs, store_index, "band_key", keys,
        )
    # out is still lazy: new_sigs must stay cached until the caller's
    # first action (it feeds three subtrees), so release it with the
    # result on the NEXT call
    _INCREMENTAL_LIVE.append(new_sigs)
    _INCREMENTAL_LIVE.append(out)
    return out


def _validate_window_params(k: int, min_count: int) -> None:
    if k < 1:
        raise ValueError(f"window length k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2 (1 would mark every window), got {min_count}"
        )


def _window_rows(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, start, __wk) — one row per k-token window, ``start``
    1-based in token units, ``__wk`` the md5 digest of the
    space-joined window. Pipelined: materialized token array → slice
    windows → posexplode; window text never leaves the map side."""
    from .text import tokens

    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    nwin = F.size("__toks") - (k - 1)
    keys = F.when(
        nwin >= 1,
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.md5(F.array_join(F.slice("__toks", i, k), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(
        F.col(id_col), F.posexplode(keys).alias("__p0", "__wk")
    ).select(
        id_col, (F.col("__p0") + 1).cast("int").alias("start"), "__wk"
    )


def _remove_spans(
    df: DataFrame, spans: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """Merge each document's duplicated-window spans and cut the
    covered tokens out: (id, n_tokens, n_dup_tokens, cleaned_text).
    Span merge is per-doc array algebra — O(duplicated tokens)."""
    from .text import tokens

    per_doc = spans.groupBy(id_col).agg(
        F.collect_set("start").alias("__starts")
    )
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + (k - 1)),
            )
        )
    )
    out = toks.join(per_doc, id_col, "left").withColumn("__cov", covered)
    # kept positions via array_except (hash-set semantics, O(n_tokens +
    # covered), order-preserving) — a per-token array_contains filter
    # would be O(n_tokens × covered), quadratic on long heavily-
    # duplicated docs (r06 ADVICE). Guard the sequence: Spark's
    # sequence(1, 0) steps DOWN, so empty docs need an explicit [].
    positions = F.when(
        F.size("__toks") > 0, F.sequence(F.lit(1), F.size("__toks"))
    ).otherwise(F.array().cast("array<int>"))
    kept = F.transform(
        F.array_except(positions, F.col("__cov")),
        lambda p: F.element_at(F.col("__toks"), p),
    )
    return out.select(
        id_col,
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.size("__cov").cast("bigint").alias("n_dup_tokens"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


def duplicated_window_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Per-document start positions (1-based, token units) of every
    ``k``-token window whose text occurs at least ``min_count`` times
    across the whole corpus — the candidate set for exact substring
    dedup. A window repeated twice inside one document counts.

    Scale shape: the window table is |corpus tokens| rows but stays
    pipelined (materialized token array → slice windows → posexplode);
    windows travel the shuffle as fixed-width md5 digests, never as
    k-token strings. One hash shuffle with map-side partial counts
    finds the duplicated keys; on a clean corpus that set is small, so
    the join back broadcasts under AQE. Nothing is ever all-pairs.
    """
    _validate_window_params(k, min_count)
    wins = _window_rows(df, k, text_col, id_col)
    dup_keys = (
        wins.groupBy("__wk")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("__wk")
    )
    return wins.join(dup_keys, "__wk").select(id_col, "start")


def substring_dedup(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Exact substring deduplication (the ExactSubstr method of Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499), re-expressed for a distributed engine:
    instead of a monolithic suffix array, every ``k``-token window is
    hashed and counted corpus-wide, and any window occurring ≥
    ``min_count`` times marks its span as duplicated text. Per
    document the overlapping duplicated spans are merged and the
    covered tokens cut out.

    Output, one row per input document:

    - ``n_tokens``     — whitespace token count,
    - ``n_dup_tokens`` — tokens covered by at least one duplicated
      window (merged-interval size),
    - ``cleaned_text`` — the surviving tokens space-joined in original
      order (``''`` when the whole document is duplicated).

    Matches the suffix-array formulation exactly for spans of length
    ``k``: a duplicated run of length L ≥ k is covered by its L-k+1
    duplicated windows, so the merged interval is the full run;
    sub-``k`` duplications are deliberately below the resolution (same
    threshold role as the paper's 50-token minimum).

    Scale shape: windows shuffle once as md5 digests (see
    :func:`duplicated_window_spans`); span merge is per-document array
    algebra (``flatten`` + ``array_distinct`` over span sequences —
    O(duplicated tokens), not O(n·spans)); the final token filter is
    a map-only projection. Clean corpora pay one scan + one
    partial-agg shuffle.
    """
    spans = duplicated_window_spans(
        df, k=k, text_col=text_col, id_col=id_col, min_count=min_count
    )
    return _remove_spans(df, spans, k, text_col, id_col)


def window_store_write(
    counts: DataFrame, store_path: str, mode: str = "append"
) -> None:
    """Persist per-window-digest counts (``__wk``, ``count``) as
    parquet — the corpus-history side of incremental substring dedup.
    Counts are ADDITIVE across appends (the store is a multiset of the
    crawl stream's windows), so no supersede stamp is needed: the read
    side sums per digest."""
    counts.select(
        F.col("__wk"), F.col("count").cast("bigint").alias("count")
    ).write.mode(mode).parquet(store_path)


def window_store_compact(
    spark, store_path: str, rows_per_file: int = 8_000_000
) -> int:
    """Fold the append-per-batch window-count store into few large
    files, sum-merging duplicate digests. Same single-writer contract
    and crash-safe rename-aside swap as
    :func:`signature_store_compact` (the store is renamed ASIDE, the
    compacted copy renamed into place, then the old copy deleted — at
    every intermediate state the history exists under a well-known
    name and the read path refuses a missing store with an ``.__old``
    sibling). Same consumption contract too: materialize any in-flight
    ``incremental_substring_dedup`` result first — compaction deletes
    the part files its snapshot pins. Returns the number of distinct
    digests kept."""

    def build():
        return (
            spark.read.parquet(store_path)
            .groupBy("__wk")
            .agg(F.sum("count").alias("count"))
        )

    return _compact_store(
        spark, store_path, "window store", build, rows_per_file
    )


def _bloom_store_index(
    spark,
    store_path: str,
    name: str,
    schema,
    column: str,
    kind: str,
    fpr: float,
    files: list[str] | None = None,
    handle=None,
    expression: str | None = None,
):
    """Shared build-or-refresh of a bloom file-index over a pipeline
    history store (window counts, URL key ledger, ...): open (or
    reuse) the engine index, register the bloom column once, and fold
    in the store's current files — only files not yet indexed are
    scanned (the engine's J1 left_anti). Pass ``files`` when the
    caller already listed the store (saves a relisting) and ``handle``
    to reuse an open Index across micro-batches (saves a metadata
    reload per batch). ``files``, when given, must be the store's
    FULL current listing: indexed files absent from it are treated as
    compacted-away and dropped from the index.

    A handle whose remembered listing matches the store returns at
    once, with no Spark job — the state a write-through append
    (``_append_indexed``) leaves behind."""
    from ..index import Index

    idx = handle
    if idx is None:
        idx = Index.for_name(name, schema=schema, format="parquet", spark=spark)
        if column not in idx.indexes:
            idx.add_bloom_index(column, fpr=fpr, expression=expression)
    if files is None:
        files = _snapshot_files(spark, store_path, kind)
    if handle is not None:
        # steady-state fast path: a reused handle whose remembered
        # listing exactly matches the store's current files has
        # nothing to do — no appends to fold in, no compacted files
        # to drop — so skip the J1 round trip entirely
        from ..sources.files import normalize_path as _np

        if getattr(idx, "_ariadne_store_listing", None) == {
            _np(f) for f in files
        }:
            return idx
    if files:
        from ..sources.files import normalize_path as _np2

        prev_listing = getattr(idx, "_ariadne_store_listing", None) or set()
        # register only files the handle hasn't successfully indexed
        # yet (the listing is remembered only after add+update
        # completed, so a crashed update re-registers — harmless, the
        # FileList is insert-if-absent). Re-adding the full listing
        # every micro-batch appended one duplicate FileList segment
        # per batch, growing every later read's plan for no data.
        new_files = [f for f in files if _np2(f) not in prev_listing]
        if new_files:
            idx.add_files(new_files)
        idx.update()
        # store compaction rewrites part files: the replaced files stay
        # in the index forever unless dropped here (harmless for
        # pruning — the prune iterates CURRENT files — but the index
        # otherwise grows one dead row per compacted file per cycle).
        # Cost control on the hot micro-batch path: a reused handle
        # remembers the last listing and only re-reads the FileList
        # when a previously-seen file VANISHED (i.e. a compaction
        # actually happened); appends-only batches skip the check.
        from ..sources.files import normalize_path

        current = {normalize_path(f) for f in files}
        prev = getattr(idx, "_ariadne_store_listing", None)
        if prev is None or not (prev <= current):
            dead = [f for f in idx.filelist.filenames() if f not in current]
            if dead:
                idx.delete_files(dead)
        idx._ariadne_store_listing = current
    return idx


def window_store_index(
    spark,
    store_path: str,
    name: str,
    fpr: float = 0.01,
    files: list[str] | None = None,
    handle=None,
):
    """Maintain a bloom file-index over the window-count store — the
    engine's own file-level pruning applied to the pipeline's history
    store. Call after appends (or from the compaction window): only
    files not yet indexed are scanned (the engine's J1 left_anti), so
    steady-state maintenance costs one pass over the NEW batch's
    files. At production ratios (small batch vs deep history) the
    per-batch history read then touches only store files whose bloom
    may contain a batch digest — pass the returned index to
    :func:`incremental_substring_dedup` as ``store_index``. ``files``
    and ``handle`` are :func:`signature_store_index`'s: with the handle
    an append that wrote through makes the refresh a no-op."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("__wk", T.StringType()),
            T.StructField("count", T.LongType()),
        ]
    )
    return _bloom_store_index(
        spark, store_path, name, schema, "__wk", "window", fpr,
        files=files, handle=handle,
    )


def signature_store_index(
    spark,
    store_path: str,
    name: str,
    fpr: float = 1e-6,
    num_hashes: int = 64,
    bands: int = 8,
    files: list[str] | None = None,
    handle=None,
):
    """Maintain a bloom file-index over the MinHash signature store,
    keyed by the DERIVED LSH band keys (r09; completes the
    engine-over-pipeline-store series: window counts r07, URL ledger
    r08). The rows persist raw signatures (``__id``, h0..h{k-1}); the
    banding join probes band keys, so the index blooms an
    array-expression column — ``array(xxhash64(h0..h{r-1}), ...)`` —
    built with EXACTLY :func:`band_projection`'s per-band xxhash64 so
    probe and build can never diverge. Band/hash params are therefore
    part of the index identity: reuse one name per (num_hashes, bands)
    config.

    Call after appends: only files not yet indexed are scanned (the
    engine's J1 left_anti). Pass the returned index to
    :func:`incremental_near_dup` as ``store_index`` and the per-batch
    history read touches only store files whose bloom may contain one
    of the batch's band keys — O(batch + colliding history) instead of
    an O(history) scan per batch. A batch probes with
    ``bands x batch_docs`` distinct keys and a file survives on ANY
    hit, so the false-file rate is ~K*fpr per file — the default 1e-6
    keeps it ~4% for a 5k-doc batch (same sizing rule as
    :func:`~ariadne_spark.streaming.maintenance.url_ledger_index`).

    After an :func:`incremental_near_dup` append that wrote through
    (see its docstring), the refresh with the same ``handle`` is a
    no-op: the store listing already matches, and no Spark job runs."""
    schema = None
    if handle is None:
        # only the cold path needs the schema (a reused handle never
        # touches it) — don't pay the store footer read per micro-batch
        schema = _signature_schema(_store_id_type(spark, store_path), num_hashes)
    return _bloom_store_index(
        spark, store_path, name, schema, "band_key", "signature", fpr,
        files=files, handle=handle,
        expression=_band_key_expression(num_hashes, bands),
    )


def _band_key_expression(num_hashes: int, bands: int) -> str:
    """The band-key array expression — shared by the index build and
    the :func:`incremental_near_dup` probe-compatibility check so the
    bloomed keys and the probe keys can never diverge."""
    rows_per_band = num_hashes // bands
    parts = []
    for b in range(bands):
        cols = ", ".join(
            f"h{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        parts.append(f"xxhash64({cols})")
    return f"array({', '.join(parts)})"


def _store_id_type(spark, store_path: str):
    """The signature store's ``__id`` type (corpus-dependent: long ids,
    string urls, ...) — one local footer read with pyarrow, or a
    footer-sampled Spark schema read for a remote store."""
    files = _snapshot_files(spark, store_path, "signature")
    t = _footer_id_type(files[0]) if files else None
    return t or spark.read.parquet(store_path).schema["__id"].dataType


def _prune_snapshot_with_index(
    spark, files: list[str], store_index, keys, column: str = "__wk",
) -> list[str]:
    """Drop snapshot files the index POSITIVELY vouches cannot contain
    any of ``keys`` (a DataFrame of keys, or distinct keys already
    collected as Arrow). Files the index does not know (an append newer
    than the last ``window_store_index`` call, or any listing drift)
    are kept unconditionally — pruning can only ever remove files the
    bloom has seen, so an out-of-date index degrades to a larger scan,
    never to a wrong answer."""
    from ..sources.files import normalize_path

    indexed = set(store_index.filelist.filenames())
    if isinstance(keys, DataFrame):
        cand = set(store_index.locate_files(keys, columns=[column]))
    else:
        cand = set(store_index.locate_files({column: keys}))
    return [
        f
        for f in files
        if normalize_path(f) not in indexed or normalize_path(f) in cand
    ]


def _local_keys(store_index, keys: DataFrame, column: str, update_store: bool):
    """The batch's distinct ``column`` keys as Arrow, collected once for
    the store locate and the write-through commit. None (the locate then
    takes the frame, as it always did) when the index is not local, the
    keys pass ``LOCAL_KEYS_MAX_BYTES``, or only the locate would use
    them and its ``minBloomPruneBytes`` floor skips that probe."""
    from ..index import _collect_keys
    from ..storage.fs import PosixFS

    if not isinstance(store_index.fs, PosixFS):
        return None
    floor = store_index.conf.min_bloom_prune_bytes
    if not update_store and floor and store_index.meta.total_indexed_bytes < floor:
        return None
    got, _reason = _collect_keys(keys, [column])
    return None if got is None else got[column]


# Distinct batch keys up to which a store append writes through: one
# part file (a single write task) plus a driver-side bloom build. Above
# it the append writes in parallel and the next refresh builds through
# Spark. tools/write_through_crossover.py (4 vCPUs) found write-through
# no slower per batch from 8,000 keys up to 2,048,000 (256k documents x
# 8 bands: 41.1 s against 43.7 s, its driver bloom build 3.3 s), the
# largest size it ran; nothing above that is measured, so the bound
# stops there rather than at LOCAL_KEYS_MAX_BYTES (~4M long keys).
WRITE_THROUGH_MAX_KEYS = 2_048_000


def _append_indexed(
    spark, store_path: str, kind: str, listing: list[str], write,
    frame: DataFrame, store_index, column: str, keys,
) -> None:
    """Append ``frame`` to the store with ``write``; with the batch's
    ``keys`` in hand and at most ``WRITE_THROUGH_MAX_KEYS`` of them,
    write it as ONE part file, so its key set is exactly ``keys``, and
    commit that file's index row driver-side
    (``Index.write_through``). ``listing`` is the store's part files
    before the append: when the handle's remembered listing equals it,
    the new file joins that listing and the next
    ``_bloom_store_index`` refresh returns at its fast path. An append
    that does not yield exactly one new file, or an index the
    write-through does not cover, is left to that refresh, which folds
    it in through Spark."""
    if keys is None or not 0 < len(keys) <= WRITE_THROUGH_MAX_KEYS:
        write(frame, store_path, mode="append")
        return
    write(frame.coalesce(1), store_path, mode="append")
    new = sorted(set(_snapshot_files(spark, store_path, kind)) - set(listing))
    if len(new) != 1 or not store_index.write_through(new[0], {column: keys}):
        return
    from ..sources.files import normalize_path

    seen = getattr(store_index, "_ariadne_store_listing", None)
    if seen == {normalize_path(f) for f in listing}:
        store_index._ariadne_store_listing = seen | {normalize_path(new[0])}


def incremental_substring_dedup(
    new_docs: DataFrame,
    store_path: str,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    update_store: bool = True,
    store_index=None,
) -> DataFrame:
    """Continuous-crawl exact substring dedup: clean a NEW batch of
    documents against the window history of everything ingested so
    far WITHOUT rescanning historical text. A batch window is
    duplicated when its batch count plus its stored historical count
    reaches ``min_count`` — exactly the spans
    :func:`substring_dedup` over (history ∪ batch) would cut from the
    batch documents (equivalence pinned by
    ``test_incremental_substring_matches_full``). Output shape is
    :func:`substring_dedup`'s, restricted to the batch.

    Re-crawl semantics: counts are a multiset of the CRAWL STREAM —
    ingesting the same document twice legitimately makes its windows
    duplicated (that is what a re-crawl is). Deduplicate batch ids
    upstream if re-crawls should supersede instead of accumulate.

    Scale shape: batch window rows stream pipelined twice (the
    aggregated count and the span extraction — the same two passes
    :func:`substring_dedup` pays); what gets CACHED is the small
    aggregated (digest, count) frame, reused for the duplicate test,
    the history digest probe, and the store append. The history side
    is a parquet scan of (digest, count) joined against the batch's
    distinct digests BEFORE its aggregation, so only digest-colliding
    history rows reach the sum shuffle — per-batch cost is
    O(batch + colliding history) plus the store's columnar digest
    scan — build a bloom :class:`~ariadne_spark.index.Index` over the
    store with :func:`window_store_index` and pass it as
    ``store_index`` to file-prune that scan when batches are small
    relative to history (files the index hasn't seen yet are read
    unconditionally, so a lagging index can only widen the scan,
    never miss history). Appending the batch's counts is one columnar
    write; with a local ``store_index`` it is one part file whose
    index row commits in the same step (write-through, as in
    :func:`incremental_near_dup`).
    """
    _validate_window_params(k, min_count)
    spark = new_docs.sparkSession
    while _INCREMENTAL_LIVE:
        try:
            _INCREMENTAL_LIVE.pop().unpersist()
        except Exception:
            pass
    wins = _window_rows(new_docs, k, text_col, id_col)
    batch_counts = (
        wins.groupBy("__wk")
        .agg(F.count(F.lit(1)).alias("count"))
        .cache()
    )
    # Missing store = first batch; any OTHER read failure must
    # PROPAGATE (treating it as "no history" would silently keep
    # text duplicated against everything already ingested), and a
    # crashed compact's .__old orphan must fail loudly. The read is
    # pinned to the store's CURRENT part files so that a recompute of
    # the (lazy) result after this call's own append — cache eviction,
    # executor loss — cannot see the batch's own counts as history.
    listing = hist_files = _snapshot_files(spark, store_path, "window")
    keys = None
    if store_index is not None and (hist_files or update_store):
        digests = batch_counts.select("__wk")
        keys = _local_keys(store_index, digests, "__wk", update_store)
        if hist_files:
            hist_files = _prune_snapshot_with_index(
                spark, hist_files, store_index,
                digests if keys is None else keys,
            )
    hist = _snapshot_read(spark, hist_files)
    if hist is not None:
        hist_counts = (
            hist.join(batch_counts.select("__wk").distinct(), "__wk")
            .groupBy("__wk")
            .agg(F.sum("count").alias("__hc"))
        )
        total = batch_counts.join(hist_counts, "__wk", "left").select(
            "__wk",
            (
                F.col("count") + F.coalesce("__hc", F.lit(0))
            ).alias("__total"),
        )
    else:
        total = batch_counts.select(
            "__wk", F.col("count").alias("__total")
        )
    dup_keys = total.where(F.col("__total") >= min_count).select("__wk")
    spans = wins.join(dup_keys, "__wk").select(id_col, "start")
    out = _remove_spans(new_docs, spans, k, text_col, id_col).cache()
    if update_store:
        # safe to append before the caller consumes `out`: the history
        # side is snapshot-pinned, so even a post-append recompute of
        # the lazy plan reads exactly the pre-append store
        _append_indexed(
            spark, store_path, "window", listing, window_store_write,
            batch_counts, store_index, "__wk", keys,
        )
    # out is still lazy: the aggregated counts feed three subtrees
    # (duplicate test, history digest probe, store append), so the
    # cache must survive until the caller's first action — release it
    # with the result on the NEXT call
    _INCREMENTAL_LIVE.append(batch_counts)
    _INCREMENTAL_LIVE.append(out)
    return out
