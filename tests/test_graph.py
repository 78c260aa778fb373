"""Connected-components + dedup clustering (operators/graph.py).

Reference model: a plain Python union-find over the collected edge
list — exact ground truth at test scale.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ariadne_spark.operators.graph import (
    connected_components,
    dedup_clusters,
    star_edges,
)


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min member id
    label = {}
    for v in range(n_nodes):
        r = find(v)
        label.setdefault(r, v)  # nodes ascend, first seen is min
    return {v: label[find(v)] for v in range(n_nodes)}


def _check(spark, n_nodes, edges):
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "src long, dst long"
    )
    nodes = spark.range(n_nodes).withColumnRenamed("id", "node")
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            pairs, nodes=nodes, node_col="node"
        ).collect()
    }
    assert got == _union_find(n_nodes, edges)


def test_cc_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(5, 80))
        ]
        _check(spark, n, edges)


def test_cc_path_graph_worst_case(spark):
    # A 120-node chain: min-label propagation would need 120 rounds;
    # large-star/small-star must converge inside the default cap.
    n = 120
    edges = [(i, i + 1) for i in range(n - 1)]
    _check(spark, n, edges)


def test_cc_isolated_nodes_and_self_loops(spark):
    edges = [(3, 3), (5, 9), (9, 5)]
    _check(spark, 12, edges)


def test_cc_preserves_id_type(spark):
    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b")], "src string, dst string"
    )
    out = connected_components(pairs)
    assert dict(out.dtypes) == {"node": "string", "component": "string"}
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_star_edges_linear_encoding(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "z"), (6, "y")],
        "doc_id long, k string",
    )
    edges = star_edges(df, "k", "doc_id")
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    # each non-min row points at its group min; singletons emit nothing
    assert got == {(2, 1), (3, 1), (6, 4)}


def test_dedup_clusters_merges_overlapping_relations(spark):
    # relation 1 links (1,2); relation 2 links (2,3): cluster {1,2,3}
    # must keep ONLY doc 1. Doc 4 is untouched and survives.
    df = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "bb"), (4, "cc")], "doc_id long, t string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    out = dedup_clusters(df, pairs, "doc_id")
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [1, 4]
    comps = dict(
        out.select("doc_id", "component").collect()
    )
    assert comps == {1: 1, 4: 4}


def test_cc_two_relation_star_union(spark):
    # The real pipeline shape: exact-dup stars ∪ near-dup stars merge
    # transitively across relations.
    df = spark.createDataFrame(
        [
            (1, "k1", "g1"),
            (2, "k1", "g2"),
            (3, "k3", "g2"),
            (4, "k4", "g4"),
        ],
        "doc_id long, tkey string, gkey string",
    )
    pairs = star_edges(df, "tkey", "doc_id").union(
        star_edges(df, "gkey", "doc_id")
    )
    comp = connected_components(
        pairs, nodes=df.select("doc_id"), node_col="doc_id"
    )
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


@pytest.mark.slow
def test_near_dup_clusters_transitive_chain(spark):
    """A~B and B~C near-dups (A≁C directly) must collapse to ONE
    survivor via the transitive closure — the property pairwise dedup
    alone cannot provide."""
    from ariadne_spark.operators.dedup import near_dup_clusters

    base = "the quick brown fox jumps over the lazy dog " * 8
    mid = base.replace("quick", "swift", 2)
    far = mid.replace("lazy", "idle", 2).replace("brown", "beige", 2)
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, mid),
            (3, far),
            (4, "completely different content about spark engines " * 8),
        ],
        "doc_id long, text string",
    )
    out = near_dup_clusters(docs, "text", "doc_id", threshold=0.5)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 4]
    comp = {r["doc_id"]: r["component"] for r in out.collect()}
    assert comp == {1: 1, 4: 4}


@pytest.mark.slow
def test_fused_round_matches_naive_star_composition(spark):
    """The fused large+small-star round (_ls_ss_round) must emit the
    exact edge set of the naive composition small_star(large_star(e))
    on an oriented duplicate-free input — the invariant that lets the
    fused form drop two distincts and the re-orientation."""
    from ariadne_spark.operators.graph import (
        _dedupe_edges,
        _ls_ss_round,
        _symmetric,
    )

    def naive_large_star(e):
        sym = _dedupe_edges(_symmetric(e))
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.col("src")).alias("m")
        )
        return _dedupe_edges(
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )

    def naive_small_star(e):
        o = _dedupe_edges(
            e.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
        )
        mins = o.groupBy("src").agg(F.min("dst").alias("m"))
        return _dedupe_edges(
            o.join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(mins.select("src", F.col("m").alias("dst")))
        )

    rng = random.Random(13)
    for trial in range(3):
        n = 40
        raw = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 60))
        ]
        pairs = spark.createDataFrame(raw, "a long, b long")
        e = _dedupe_edges(
            pairs.select(
                F.greatest("a", "b").alias("src"),
                F.least("a", "b").alias("dst"),
            )
        )
        fused = {(r["src"], r["dst"]) for r in _ls_ss_round(e).collect()}
        naive = {
            (r["src"], r["dst"])
            for r in naive_small_star(naive_large_star(e)).collect()
        }
        assert fused == naive, (trial, fused ^ naive)
        # fused output re-establishes the round invariant
        assert all(s > d for s, d in fused)


def test_star_edges_plan_is_partial_aggregatable(spark):
    """star_edges must not contain a Window over the key (hot-key
    serialization); the min side partial-aggregates map-side and
    singleton keys are filtered before the join (r06)."""
    df = spark.createDataFrame(
        [(i, "hot" if i < 50 else f"k{i}") for i in range(60)],
        ["doc_id", "k"],
    )
    edges = star_edges(df, "k", "doc_id")
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    assert got == {(i, 0) for i in range(1, 50)}


def _cc_cases():
    """Edge lists by shape: random, path (worst case), string ids."""
    rng = random.Random(11)
    return {
        "random": [(rng.randrange(400), rng.randrange(400)) for _ in range(700)],
        "path": [(i, i + 1) for i in range(200)],
        "strings": [
            (f"n{rng.randrange(300):03d}", f"n{rng.randrange(300):03d}")
            for _ in range(500)
        ],
    }


@pytest.mark.parametrize(
    "shape",
    [
        "strings",
        pytest.param("random", marks=pytest.mark.slow),
        pytest.param("path", marks=pytest.mark.slow),
    ],
)
def test_cc_local_finish_matches_distributed(spark, shape):
    """r11: under the conf-bounded edge limit connected_components
    finishes with a driver union-find instead of more star rounds.
    Labels must be IDENTICAL to the distributed fixpoint's on every
    graph shape — random, path (worst case), star union — and for
    string ids; and a mid-loop handoff (limit between the contracted
    and the input edge count) must agree too. The string-id case runs
    in the default gate."""
    pairs = spark.createDataFrame(_cc_cases()[shape], ["src", "dst"])
    results = []
    for limit in ("0", "200000", "300"):
        spark.conf.set("spark.ariadne.ccLocalEdgeLimit", limit)
        try:
            results.append(
                sorted(
                    (r["node"], r["component"])
                    for r in connected_components(pairs).collect()
                )
            )
        finally:
            spark.conf.unset("spark.ariadne.ccLocalEdgeLimit")
    assert results[0] == results[1] == results[2]
