"""Distributed connected components + dedup clustering.

Near-dup detection (MinHash/SimHash/n-gram/exact) emits PAIRS; a real
corpus pipeline must then merge overlapping pairs into clusters and
keep one canonical document per cluster — A~B from the exact pass and
B~C from the near-dup pass must collapse to ONE group {A,B,C}. That
merge is connected components over the union of all pair relations.

The implementation is the alternating large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC 2014 — public literature): each round is two groupBy-min
shuffles over the edge list, and the edge list contracts toward a
star per component in O(log n) rounds even on adversarial path
graphs (plain min-label propagation needs O(diameter) rounds).
Everything is DataFrame joins/aggregations — no driver-side graph,
no collect proportional to data — and each round is truncated with
an eager ``localCheckpoint`` so the lineage (and Catalyst plan) stays
flat no matter how many rounds run.

Scale posture: edges for dedup are generated as *star edges*
(node → per-key min via one window) so an equality relation of any
group size contributes O(rows) edges, never O(rows²) explicit pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dedupe_edges(e: DataFrame) -> DataFrame:
    return e.where(F.col("src") != F.col("dst")).distinct()


def _symmetric(e: DataFrame) -> DataFrame:
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _ls_ss_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round, fused.

    Input invariant (established at entry and re-established by every
    round): ``e`` is duplicate-free and strictly oriented ``src > dst``.
    That invariant makes two of the naive composition's four distincts
    and the small star's greatest/least re-orientation provably no-ops:

    - ``_symmetric(e)`` of an oriented duplicate-free edge set is
      itself duplicate-free (the two orientations cannot collide), so
      the large star needs no input distinct — and even when the join
      below re-emits a duplicate, the small-star distinct right after
      removes it before it can compound.
    - The large star only emits ``(dst, m)`` with ``m ≤ src < dst``,
      so its output is ALREADY strictly oriented: the small star's
      large→small re-orientation is the identity and one distinct
      covers both the large star's output dedupe and the small star's
      input dedupe.

    Fusing also keeps the middle of the round keyed by the same
    ``src`` column, so the distinct → groupBy → join run reuses one
    hash partitioning instead of re-exchanging per operator.
    """
    # Large star: per-node min over the symmetrized neighborhood, then
    # connect every strictly-larger neighbor to min(Γ(u) ∪ u).
    sym = _symmetric(e)
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.col("src")).alias("m")
    )
    ls = (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    # Small star over the (strictly-oriented) large-star output:
    # connect each node's smaller neighbors and the node itself to its
    # minimum neighbor.
    o = ls.distinct()
    mins2 = o.groupBy("src").agg(F.min("dst").alias("m"))
    return _dedupe_edges(
        o.join(mins2, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(mins2.select("src", F.col("m").alias("dst")))
    )


def _finish_local(edges: DataFrame) -> DataFrame:
    """Driver union-find finish over a CONTRACTED edge set.

    Both star operations preserve the connectivity of the non-isolated
    node set (Kiveris et al. 2014, correctness lemma), so at any point
    mid-loop the current edge set has exactly the original components.
    Once a round has contracted the graph under the conf-bounded edge
    limit, a single O(E α(E)) union-find replaces the remaining
    O(log n) Spark rounds (each of which pays two shuffles plus a
    fingerprint job over an already-tiny frame) — the same
    small-side-to-the-driver trade as a broadcast join, with the same
    explicit size bound. Union-by-min keeps every set's root equal to
    its minimum member, so labels are IDENTICAL to the distributed
    fixpoint's (node, min component member) contract."""
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra  # attach larger root under smaller: root = min
    node_t = edges.schema["src"].dataType
    out_schema = T.StructType(
        [
            T.StructField("node", node_t),
            T.StructField("component", node_t),
        ]
    )
    out_rows = [(n, find(n)) for n in list(parent)]
    return edges.sparkSession.createDataFrame(out_rows, out_schema)


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Component label (= minimum member id) for every node.

    ``pairs`` is an undirected edge list (either orientation, dups
    fine). ``nodes`` optionally supplies the full node universe so
    isolated nodes appear as their own singleton component.

    Returns ``(node, component)``. Ids may be any orderable type;
    both columns keep the input id type.
    """
    def _fp(frame: DataFrame) -> tuple:
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # Entry normalization orients edges large→small, establishing the
    # _ls_ss_round invariant (and collapsing (a,b)/(b,a) duplicates).
    # NULL ids collapse to src == dst under greatest/least and are
    # dropped, exactly as src != dst dropped them before.
    # Checkpoints are EAGER: each materializes in its own job before
    # any later plan reads it. A lazy checkpoint, materialized by the
    # fingerprint job, deadlocked when that job planned a broadcast
    # exchange: the scheduler and the exchange thread took the
    # checkpoint RDD's monitors in opposite orders.
    e = _dedupe_edges(
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("src"),
            F.least(F.col(src), F.col(dst)).alias("dst"),
        )
    ).localCheckpoint(eager=True)

    # r11 (guide §1.2 "remove unnecessary passes"): the fingerprint
    # already reports the edge count, so once the graph is (or
    # contracts) under this bound, finish on the driver instead of
    # running more distributed rounds — see _finish_local. 0 disables.
    local_limit = int(
        pairs.sparkSession.conf.get("spark.ariadne.ccLocalEdgeLimit", "200000")
    )

    # Rounds are deterministic, so an unchanged edge-set fingerprint
    # means a fixpoint. Seeding from the (identically-normalized)
    # input lets an already-star-shaped graph — e.g. a union of
    # per-key dedup stars with no cross-relation overlap — finish in
    # ONE round instead of two.
    assign = None
    prev_fp = _fp(e)
    if prev_fp[0] <= local_limit:
        assign = _finish_local(e)
    else:
        for _ in range(max_iter):
            e = _ls_ss_round(e).localCheckpoint(eager=True)
            fp = _fp(e)
            if fp == prev_fp:
                break
            if fp[0] <= local_limit:
                assign = _finish_local(e)
                break
            prev_fp = fp
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )

    if assign is None:
        # At the fixpoint every edge points node → component min, and
        # component minima appear only as dst. Re-add them as
        # self-rows.
        assign = e.select(
            F.col("src").alias("node"), F.col("dst").alias("component")
        ).union(
            e.select(
                F.col("dst").alias("node"), F.col("dst").alias("component")
            ).distinct()
        )
        assign = assign.groupBy("node").agg(
            F.min("component").alias("component")
        )

    if nodes is not None:
        ncol = node_col or nodes.columns[0]
        universe = nodes.select(F.col(ncol).alias("node")).distinct()
        assign = universe.join(assign, "node", "left").select(
            "node", F.coalesce("component", "node").alias("component")
        )
    return assign


def star_edges(
    df: DataFrame, key: F.Column | str, id_col: str
) -> DataFrame:
    """Edges (id → per-key min id) for an equality relation — the
    linear-size encoding of "all rows sharing ``key`` are connected".

    Partial-aggregatable groupBy min + join back, not a
    ``Window.partitionBy(key)``: the window form serializes every row
    of a hot key through ONE task — and mass-duplicated keys are the
    exact reason this function gets called. The min side is filtered
    to keys with ≥2 rows first (singletons emit no edges), so the join
    right side is duplicate-proportional and usually broadcasts; the
    join itself is skew-split by AQE when a key is truly massive."""
    k = F.col(key) if isinstance(key, str) else key
    keyed = df.select(k.alias("__k"), F.col(id_col).alias("src"))
    mins = (
        keyed.groupBy("__k")
        .agg(F.min("src").alias("dst"), F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .select("__k", "dst")
    )
    return (
        keyed.join(mins, "__k")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "src",
    dst: str = "dst",
    component_col: str = "component",
) -> DataFrame:
    """Attach the merged-cluster label to every row and keep only the
    canonical (minimum-id) row of each cluster — the final step of a
    multi-pass dedup pipeline. Rows in no pair survive untouched."""
    comp = connected_components(
        pairs, src=src, dst=dst, nodes=df.select(id_col), node_col=id_col
    )
    labeled = df.join(
        comp.select(
            F.col("node").alias(id_col),
            F.col("component").alias(component_col),
        ),
        id_col,
    )
    return labeled.where(F.col(id_col) == F.col(component_col))
