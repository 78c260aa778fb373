"""SQL surface equivalence tests (reference category:
AriadneCatalogTests — SQL results must match the programmatic API,
fallback correctness for non-equi / outer / partially-indexed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ariadne_spark import Index
from ariadne_spark.sql import surface

from .conftest import assert_same_rows


@pytest.fixture()
def orders_view(spark, storage, orders_files):
    df, files = orders_files
    idx = Index.for_name("orders_sql", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_range_index("o_orderkey")
    idx.add_files(files).update()
    surface.register_views(spark, ["orders_sql"])
    return df


def test_sql_select_matches_plain(spark, orders_view):
    df = orders_view
    res = surface.sql(
        "SELECT o_orderkey, o_custkey FROM orders_sql WHERE o_custkey IN (5, 6, 7)",
        spark,
    )
    assert_same_rows(
        res, df.where(F.col("o_custkey").isin([5, 6, 7])).select("o_orderkey", "o_custkey")
    )


def test_sql_join_rewrite_matches(spark, orders_view):
    df = orders_view
    keys = df.select("o_custkey").distinct().limit(10)
    keys.createOrReplaceTempView("some_keys")
    res = surface.sql(
        "SELECT o.o_orderkey, o.o_custkey FROM orders_sql o "
        "JOIN some_keys k ON o.o_custkey = k.o_custkey",
        spark,
    )
    expected = df.join(keys, "o_custkey").select("o_orderkey", "o_custkey")
    assert_same_rows(res, expected)


def test_sql_left_join_not_pruned(spark, orders_view):
    df = orders_view
    spark.createDataFrame([(1,), (99999,)], ["k"]).createOrReplaceTempView("lk")
    res = surface.sql(
        "SELECT lk.k, o.o_orderkey FROM lk LEFT JOIN orders_sql o ON o.o_custkey = lk.k",
        spark,
    )
    expected = (
        spark.table("lk")
        .join(df, F.col("k") == F.col("o_custkey"), "left")
        .select("k", "o_orderkey")
    )
    assert_same_rows(res, expected)


def test_sql_fallback_non_equi(spark, orders_view):
    df = orders_view
    res = surface.sql(
        "SELECT count(*) AS n FROM orders_sql WHERE o_totalprice > 1000 OR o_custkey = 3",
        spark,
    )
    exp = df.where((F.col("o_totalprice") > 1000) | (F.col("o_custkey") == 3)).count()
    assert res.collect()[0]["n"] == exp


def test_sql_temporal_view_applies_dedup(spark, storage, events_files):
    """SELECT * on a temporal index applies latest-version dedup even
    without WHERE (reference: AriadneCatalogTests)."""
    df, files = events_files
    idx = Index.for_name("events_sql", schema=df.schema, format="parquet", spark=spark)
    idx.add_temporal_index("user_id", "ts").add_files(files).update()
    surface.register_views(spark, ["events_sql"])
    res = surface.sql("SELECT user_id, ts FROM events_sql", spark)
    per_user = res.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert per_user == 1  # one (latest) row per user


def test_sql_cascaded_join_pruning(spark, storage, orders_files, caplog):
    """Pruning one view unlocks pruning the next: in
    dim ⋈ A ⋈ B, A prunes from dim's literal keys, then B prunes from
    the (dim ⋈ pruned-A) join keys — the reference rule skips joins
    whose other side holds an index relation; the cascade handles
    them with the same conservative semantics."""
    import logging

    df, files = orders_files
    a = Index.for_name("casc_a", schema=df.schema, format="parquet", spark=spark)
    a.add_range_index("o_orderkey").add_files(files).update()
    b = Index.for_name("casc_b", schema=df.schema, format="parquet", spark=spark)
    b.add_range_index("o_orderkey").add_files(files).update()
    surface.register_views(spark, ["casc_a", "casc_b"])
    # keys confined to one file's o_orderkey range
    keys = [r[0] for r in df.select("o_orderkey").orderBy("o_orderkey").limit(3).collect()]
    spark.createDataFrame([(k,) for k in keys], ["k"]).createOrReplaceTempView("casc_dim")
    with caplog.at_level(logging.INFO, logger="ariadne"):
        res = surface.sql(
            "SELECT a.o_orderkey, b.o_custkey FROM casc_dim d "
            "JOIN casc_a a ON a.o_orderkey = d.k "
            "JOIN casc_b b ON b.o_orderkey = a.o_orderkey",
            spark,
        )
        expected = (
            df.where(F.col("o_orderkey").isin(keys))
            .alias("a")
            .join(df.alias("b"), "o_orderkey")
            .select("o_orderkey", F.col("b.o_custkey"))
        )
        assert_same_rows(res, expected)
    pruned = {
        m.split()[3]: int(m.split()[5])
        for m in caplog.messages
        if m.startswith("ariadne.sql: pruned view casc_")
    }
    assert pruned.get("casc_a") == 1, pruned
    assert pruned.get("casc_b") == 1, pruned  # cascade reached B


def test_sql_cte_and_aggregation(spark, orders_view):
    df = orders_view
    r = surface.sql(
        "WITH x AS (SELECT * FROM orders_sql WHERE o_custkey IN (5, 6, 7)) "
        "SELECT count(*) AS n FROM x",
        spark,
    )
    assert r.collect()[0]["n"] == df.where(F.col("o_custkey").isin([5, 6, 7])).count()
    r2 = surface.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders_sql "
        "WHERE o_custkey = 5 GROUP BY o_orderstatus",
        spark,
    )
    exp = {
        (x["o_orderstatus"], x["count"])
        for x in df.where("o_custkey = 5").groupBy("o_orderstatus").count().collect()
    }
    assert {(x["o_orderstatus"], x["n"]) for x in r2.collect()} == exp


def test_dataset_of_rows_calls_classic_dataset(monkeypatch):
    """Plans become DataFrames through Spark 4's classic
    ``Dataset.ofRows``; its errors (an analysis failure in a probe
    trial) reach the caller unchanged."""
    from ariadne_spark.sql import surface

    class _Ds:
        def __init__(self, ok):
            self.ok = ok

        def ofRows(self, jss, plan):
            if not self.ok:
                raise TypeError("unresolved plan")
            return ("jdf", plan)

    class _Ns:
        def __init__(self, **kw):
            self.__dict__.update(kw)

    def fake_spark(ok):
        jvm = _Ns(org=_Ns(apache=_Ns(spark=_Ns(sql=_Ns(
            classic=_Ns(Dataset=_Ds(ok)),
        )))))
        return _Ns(_jvm=jvm, _jsparkSession=object())

    monkeypatch.setattr(surface, "DataFrame", lambda jdf, s: ("df", jdf))

    assert surface._dataset_of_rows(fake_spark(True), "p")[1][1] == "p"
    with pytest.raises(TypeError, match="unresolved plan"):
        surface._dataset_of_rows(fake_spark(False), "p")


def test_sql_interception_prunes_and_restores(spark, orders_view):
    """enable_sql_interception routes plain spark.sql through the
    rewriter; disable restores the original method."""
    import ariadne_spark

    df = orders_view
    seen = []
    orig_sql_fn = surface.sql

    def spy(query, s=None):
        seen.append(query)
        return orig_sql_fn(query, s)

    surface.sql, ariadne_spark.sql = spy, spy
    try:
        ariadne_spark.enable_sql_interception(spark)
        ariadne_spark.enable_sql_interception(spark)  # idempotent
        res = spark.sql(
            "SELECT o_orderkey, o_custkey FROM orders_sql WHERE o_custkey IN (5, 6)"
        )
        assert seen, "intercepted spark.sql did not reach the rewriter"
        assert_same_rows(
            res,
            df.where(F.col("o_custkey").isin([5, 6])).select(
                "o_orderkey", "o_custkey"
            ),
        )
    finally:
        surface.sql = orig_sql_fn
        ariadne_spark.sql = orig_sql_fn
        ariadne_spark.disable_sql_interception(spark)
    assert "sql" not in spark.__dict__
    # plain path works again
    assert spark.sql("SELECT 1 AS one").collect()[0]["one"] == 1

def test_sql_join_matches_programmatic(spark, storage, orders_files):
    """Reference AriadneCatalogTests: 'SQL JOIN matches programmatic
    index.join results' — same rows through both surfaces."""
    import ariadne_spark

    df, files = orders_files
    idx = Index.for_name("orders_eq", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_files(files).update()
    surface.register_views(spark, ["orders_eq"])
    cust = df.select("o_custkey").distinct().limit(15)
    cust.createOrReplaceTempView("cust_keys")
    via_sql = ariadne_spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey
        FROM orders_eq o JOIN cust_keys c ON o.o_custkey = c.o_custkey
        """,
        spark,
    )
    via_api = idx.join(cust, on=["o_custkey"]).select("o_orderkey", "o_custkey")
    assert_same_rows(via_sql, via_api)


def test_broken_index_does_not_break_other_views(
    spark, storage, orders_files, tmp_path
):
    """One index whose registered files vanished (or whose metadata is
    corrupt) must not take down SQL over every other table: its view
    is skipped with a warning, other views register and query fine."""
    import shutil

    df, files = orders_files
    good = Index.for_name(
        "sql_good", schema=df.schema, format="parquet", spark=spark
    )
    good.add_index("o_custkey").add_files(files).update()

    doomed_dir = str(tmp_path / "doomed")
    df.limit(10).coalesce(1).write.parquet(doomed_dir)
    import glob as g

    doomed_files = g.glob(f"{doomed_dir}/*.parquet")
    bad = Index.for_name(
        "sql_bad", schema=df.schema, format="parquet", spark=spark
    )
    bad.add_index("o_custkey").add_files(doomed_files).update()
    shutil.rmtree(doomed_dir)  # files vanish behind the index

    surface._VIEW_CACHE.clear()
    names = surface.register_views(spark, force=True)
    assert "sql_good" in names
    res = surface.sql(
        "SELECT count(*) AS n FROM sql_good WHERE o_custkey IN (5, 6)", spark
    )
    want = df.where(F.col("o_custkey").isin([5, 6])).count()
    assert res.collect()[0]["n"] == want


def test_prune_report_reflects_last_query(spark, orders_view):
    """prune_report() shows per-view files/bytes selected vs total for
    the LAST sql() call, and empties on a no-index query."""
    import ariadne_spark

    surface.sql(
        "SELECT o_orderkey FROM orders_sql WHERE o_custkey IN (5, 6)", spark
    )
    rep = {r["view"]: r for r in ariadne_spark.prune_report(spark).collect()}
    assert "orders_sql" in rep
    r = rep["orders_sql"]
    assert 0 < r["files_selected"] <= r["files_total"]
    assert 0 < r["bytes_selected"] <= r["bytes_total"]
    assert "o_custkey" in r["probed_columns"]

    spark.range(3).createOrReplaceTempView("plain_v")
    surface.sql("SELECT * FROM plain_v", spark)
    assert ariadne_spark.prune_report(spark).count() == 0


def test_sql_band_pushdown_prunes_range_view(spark, orders_view, storage):
    """WHERE o_orderkey >= X AND o_orderkey < Y on a range-indexed view
    prunes at file grain (prune_report shows a strict subset) with
    exact results."""
    import ariadne_spark

    df = orders_view
    lo, hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    width = (hi - lo) // 4 + 1
    a, b = lo + 1, lo + width // 2
    res = surface.sql(
        f"SELECT o_orderkey, o_custkey FROM orders_sql "
        f"WHERE o_orderkey >= {a} AND o_orderkey < {b}",
        spark,
    )
    want = df.where(
        (F.col("o_orderkey") >= a) & (F.col("o_orderkey") < b)
    ).select("o_orderkey", "o_custkey")
    assert_same_rows(res, want)
    rep = {r["view"]: r for r in ariadne_spark.prune_report(spark).collect()}
    r = rep["orders_sql"]
    assert r["files_selected"] < r["files_total"]
    assert "o_orderkey" in r["probed_columns"]


def test_advisor_suggests_types_from_workload(spark, orders_files):
    """advise_indexes maps equality/IN → regular, bands → range, and
    high-cardinality lookups → bloom, from parse-only analysis."""
    from ariadne_spark.sql.advisor import advise_indexes

    df, _ = orders_files
    out = advise_indexes(
        [
            "SELECT * FROM t_orders WHERE o_custkey IN (1, 2, 3)",
            "SELECT * FROM t_orders WHERE o_orderkey >= 5 AND o_orderkey < 9",
            "SELECT * FROM t_orders WHERE o_custkey = 7",
            "not even sql ((",  # unparseable queries are skipped
        ],
        spark,
        tables={"t_orders": df},
    )
    rec = {(r["table"], r["column"]): r for r in out.collect()}
    assert rec[("t_orders", "o_custkey")]["suggested"] == "regular"
    assert rec[("t_orders", "o_custkey")]["n_queries"] == 2
    assert rec[("t_orders", "o_orderkey")]["suggested"] == "range"


def test_advisor_bloom_on_high_cardinality(spark, orders_files, monkeypatch):
    from ariadne_spark.sql import advisor

    df, _ = orders_files
    monkeypatch.setattr(advisor, "BLOOM_CARDINALITY_THRESHOLD", 10)
    out = advisor.advise_indexes(
        ["SELECT * FROM t WHERE o_orderkey = 5"],
        spark,
        tables={"t": df},
        estimate_cardinality=True,
    )
    rec = {r["column"]: r for r in out.collect()}
    assert rec["o_orderkey"]["suggested"] == "bloom"
    assert "distinct" in rec["o_orderkey"]["reason"]


def test_advisor_join_only_workload(spark, orders_files):
    """Join-equi keys alone (no WHERE) still drive recommendations on
    both sides."""
    from ariadne_spark.sql.advisor import advise_indexes

    df, _ = orders_files
    li = spark.createDataFrame([(1, 2)], ["l_orderkey", "l_qty"])
    out = advise_indexes(
        ["SELECT * FROM a JOIN b ON a.o_orderkey = b.l_orderkey"],
        spark,
        tables={"a": df, "b": li},
    )
    rec = {(r["table"], r["column"]): r["suggested"] for r in out.collect()}
    assert rec[("a", "o_orderkey")] == "regular"
    assert rec[("b", "l_orderkey")] == "regular"


def test_union_branches_are_not_conflated(spark, orders_view):
    """A view referenced by two UNION branches with divergent
    predicates must NOT be pruned by either branch's constraints —
    both branches return full, correct rows."""
    df = orders_view
    lo, hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    a = lo + 5
    b = hi - 5
    res = surface.sql(
        f"SELECT o_orderkey FROM orders_sql WHERE o_orderkey < {a} "
        f"UNION ALL SELECT o_orderkey FROM orders_sql WHERE o_orderkey > {b}",
        spark,
    )
    want = df.where(F.col("o_orderkey") < a).count() + df.where(
        F.col("o_orderkey") > b
    ).count()
    assert res.count() == want > 0


def test_union_branches_pruned_per_reference(spark, orders_view):
    """r06: a view referenced by two UNION branches is pruned
    per-REFERENCE — each branch gets its own pruned unique view from
    its own predicate (the name-level swap could never express this;
    the reference rule refuses multi-relation plans outright). Both
    branches stay exact AND both prune."""
    df = orders_view
    lo, hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    a = lo + (hi - lo) // 8  # inside the first range file
    b = hi - (hi - lo) // 8  # inside the last range file
    surface.clear_sql_cache()
    res = surface.sql(
        f"SELECT o_orderkey FROM orders_sql WHERE o_orderkey < {a} "
        f"UNION ALL SELECT o_orderkey FROM orders_sql WHERE o_orderkey > {b}",
        spark,
    )
    want = df.where(F.col("o_orderkey") < a).count() + df.where(
        F.col("o_orderkey") > b
    ).count()
    assert res.count() == want > 0
    rep = {r["view"]: r for r in surface.prune_report(spark).collect()}
    assert {"orders_sql#0", "orders_sql#1"} <= set(rep), rep.keys()
    for k in ("orders_sql#0", "orders_sql#1"):
        assert 0 < rep[k]["files_selected"] < rep[k]["files_total"], rep[k]
    # cache replay keeps the per-reference swaps (ordinals re-map onto
    # the fresh parse) and the result identical
    res2 = surface.sql(
        f"SELECT o_orderkey FROM orders_sql WHERE o_orderkey < {a} "
        f"UNION ALL SELECT o_orderkey FROM orders_sql WHERE o_orderkey > {b}",
        spark,
    )
    assert res2.count() == want


def test_self_join_both_arms_pruned_per_reference(spark, orders_view):
    """r06 join-cascade extension: a SELF-JOIN of one index view prunes
    BOTH arms, each by its own join keys (dim keys prune arm a; arm
    a's pruned keys cascade to arm b). The name-level rule refused
    multi-referenced views outright."""
    df = orders_view
    # keys confined to ONE o_orderkey-range file so pruning is visible
    keys = [
        r[0]
        for r in df.select("o_orderkey").orderBy("o_orderkey")
        .limit(3).collect()
    ]
    spark.createDataFrame([(k,) for k in keys], ["k"]).createOrReplaceTempView(
        "selfj_dim"
    )
    surface.clear_sql_cache()
    q = """
        SELECT a.o_custkey, b.o_custkey AS b_custkey
        FROM selfj_dim d
        JOIN orders_sql a ON a.o_orderkey = d.k
        JOIN orders_sql b ON b.o_orderkey = a.o_orderkey
    """
    res = surface.sql(q, spark)
    expected = (
        df.where(F.col("o_orderkey").isin(keys))
        .alias("a")
        .join(
            df.where(F.col("o_orderkey").isin(keys)).alias("b"), "o_orderkey"
        )
        .select(
            F.col("a.o_custkey"), F.col("b.o_custkey").alias("b_custkey")
        )
    )
    assert_same_rows(res, expected)
    rep = {r["view"]: r for r in surface.prune_report(spark).collect()}
    pruned_refs = [
        k for k in rep if k.startswith("orders_sql#")
        and rep[k]["files_selected"] < rep[k]["files_total"]
    ]
    assert len(pruned_refs) == 2, rep.keys()


def test_self_join_not_pruned_by_one_side(spark, orders_view):
    """Self-join: the bare second reference must keep all its rows."""
    df = orders_view
    some = df.limit(1).collect()[0]["o_custkey"]
    res = surface.sql(
        f"SELECT count(*) AS n FROM "
        f"(SELECT o_orderkey FROM orders_sql WHERE o_custkey = {some}) a "
        f"CROSS JOIN (SELECT count(*) AS total FROM orders_sql) b",
        spark,
    )
    n = res.collect()[0]["n"]
    assert n == df.where(F.col("o_custkey") == some).count()


def test_advisor_counts_queries_not_conjuncts(spark, orders_files):
    from ariadne_spark.sql.advisor import advise_indexes

    df, _ = orders_files
    out = advise_indexes(
        ["SELECT * FROM t WHERE o_orderkey >= 5 AND o_orderkey < 9"],
        spark,
        tables={"t": df},
    )
    r = {row["column"]: row for row in out.collect()}["o_orderkey"]
    assert r["n_queries"] == 1
    assert "1 query" in r["reason"]


def test_advisor_resolves_table_aliases(spark, orders_files):
    from ariadne_spark.sql.advisor import advise_indexes

    df, _ = orders_files
    li = spark.createDataFrame([(1,)], ["l_orderkey"])
    out = advise_indexes(
        [
            "SELECT * FROM orders_t o JOIN line_t l "
            "ON o.o_orderkey = l.l_orderkey WHERE o.o_custkey = 3"
        ],
        spark,
        tables={"orders_t": df, "line_t": li},
    )
    rec = {(r["table"], r["column"]): r["suggested"] for r in out.collect()}
    assert ("?", "o_custkey") not in rec
    assert rec[("orders_t", "o_custkey")] == "regular"


def test_sql_empty_result_schema_stable(spark, orders_view):
    """Impossible WHERE on an index view: zero rows, stable schema,
    and the prune report records a zero-file selection."""
    import ariadne_spark

    res = surface.sql(
        "SELECT * FROM orders_sql WHERE o_custkey = -12345", spark
    )
    assert res.count() == 0
    assert "o_orderkey" in res.columns
    rep = {r["view"]: r for r in ariadne_spark.prune_report(spark).collect()}
    assert rep["orders_sql"]["files_selected"] == 0


def test_interception_populates_prune_report(spark, orders_view):
    """Plain spark.sql under interception feeds the same prune report
    as ariadne_spark.sql."""
    import ariadne_spark

    try:
        ariadne_spark.enable_sql_interception(spark)
        spark.sql(
            "SELECT o_orderkey FROM orders_sql WHERE o_custkey IN (5, 6)"
        ).count()
        rep = {r["view"]: r for r in ariadne_spark.prune_report(spark).collect()}
        assert "orders_sql" in rep
        assert rep["orders_sql"]["files_selected"] >= 1
    finally:
        ariadne_spark.disable_sql_interception(spark)


def test_probe_persist_reused_and_released(spark, orders_view):
    """The executed join probe side is persisted, substituted into the
    final plan as an InMemoryRelation, and released on the NEXT sql()
    call (never mid-query: the returned DataFrame is lazy)."""
    df = orders_view
    keys = df.select("o_custkey").distinct().limit(10)
    keys.createOrReplaceTempView("probe_keys")
    q = (
        "SELECT o.o_orderkey, o.o_custkey FROM orders_sql o "
        "JOIN probe_keys k ON o.o_custkey = k.o_custkey"
    )
    surface.clear_sql_cache()
    res = surface.sql(q, spark)
    assert len(surface._PROBE_LIVE) == 1
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    assert_same_rows(
        res, df.join(keys, "o_custkey").select("o_orderkey", "o_custkey")
    )
    # an identical re-issue hits the swap cache: the previous probe is
    # released and NO new one is executed (the cached file list swaps
    # the view directly), yet the result stays pruned-and-correct
    res2 = surface.sql(q, spark)
    assert len(surface._PROBE_LIVE) == 0
    assert_same_rows(
        res2, df.join(keys, "o_custkey").select("o_orderkey", "o_custkey")
    )
    assert surface._PRUNE_REPORT  # report replayed from the cache
    # with the cache disabled the original lifecycle returns: each call
    # re-executes and persists its own probe, releasing the previous
    spark.conf.set("spark.ariadne.sqlRewriteCache", "false")
    try:
        surface.sql(q, spark).count()
        assert len(surface._PROBE_LIVE) == 1
        # a query with no join rewrite leaves no live probes
        surface.sql(
            "SELECT o_orderkey FROM orders_sql WHERE o_custkey IN (1, 2)",
            spark,
        ).count()
        assert len(surface._PROBE_LIVE) == 0
    finally:
        spark.conf.unset("spark.ariadne.sqlRewriteCache")


def test_probe_persist_fallback_still_correct(spark, orders_view):
    """A query the rewriter can't handle (non-equi join) falls back to
    the unmodified text and must stay correct with no probe leak."""
    df = orders_view
    spark.createDataFrame([(50,)], ["cut"]).createOrReplaceTempView("cut_v")
    res = surface.sql(
        "SELECT o.o_orderkey FROM orders_sql o JOIN cut_v c "
        "ON o.o_custkey < c.cut",
        spark,
    )
    expected = df.join(
        spark.table("cut_v"), F.col("o_custkey") < F.col("cut")
    ).select("o_orderkey")
    assert_same_rows(res, expected)
    assert len(surface._PROBE_LIVE) == 0


def test_multi_view_where_attribution_prunes(spark, orders_view, storage):
    """A WHERE above a join tree containing SEVERAL index relations
    still prunes each view via alias-attributed conjuncts (the normal
    TPC-H shape; single-relation Filter analysis never fires there).
    BETWEEN must work too — Spark 4 parses it as an unresolved
    between() call, not two comparisons."""
    df = orders_view
    lo, hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    cut = lo + (hi - lo) // 8  # inside the first of 4 range files
    # second index view so the WHERE sits above a multi-view join tree
    keys = df.select("o_custkey").distinct()
    keys.createOrReplaceTempView("mv_keys")
    res = surface.sql(
        f"""
        SELECT o.o_orderkey, o.o_custkey
        FROM orders_sql o
        JOIN mv_keys k ON o.o_custkey = k.o_custkey
        WHERE o.o_orderkey BETWEEN {lo} AND {cut}
        """,
        spark,
    )
    expected = df.where(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= cut)
    ).select("o_orderkey", "o_custkey")
    assert_same_rows(res, expected)
    rep = {r["view"]: r for r in surface.prune_report(spark).collect()}
    r = rep["orders_sql"]
    assert r["files_selected"] < r["files_total"], (
        "band above a multi-view join tree must still prune"
    )


def test_probe_side_executes_filtered(spark, orders_view):
    """Ancestor WHERE conjuncts that belong to the probe side are
    applied to it before execution: the persisted probe holds the
    filtered rows, not the full side."""
    df = orders_view
    probe = df.select("o_custkey").distinct()
    probe.createOrReplaceTempView("probe_src")
    full = probe.count()
    res = surface.sql(
        """
        SELECT o.o_orderkey FROM orders_sql o
        JOIN probe_src p ON o.o_custkey = p.o_custkey
        WHERE p.o_custkey < 10
        """,
        spark,
    )
    expected = df.where("o_custkey < 10").select("o_orderkey")
    assert_same_rows(res, expected)
    assert surface._PROBE_TRACE, "probe side should be traced"
    filtered, probe_df = surface._PROBE_TRACE[-1]
    assert filtered, "ancestor conjunct on the probe side must apply"
    probe_rows = probe_df.count()
    assert probe_rows < full, (
        f"probe executed unfiltered ({probe_rows} rows, full side {full})"
    )
    # filtered probes are NOT persisted (they cannot canonically match
    # the final plan; persisting would only force full-width
    # materialization during locate)
    assert not surface._PROBE_LIVE


def test_conjunct_on_non_index_alias_never_misattributed(spark, orders_view):
    """A conjunct on a PLAIN view's column that happens to share the
    index view's column name must not prune the index view: qualified
    refs resolve through the alias map only."""
    df = orders_view
    # plain view exposing a column NAMED like the indexed one
    df.select(
        F.col("o_custkey"), F.lit(1).alias("tag")
    ).distinct().createOrReplaceTempView("shadow_v")
    res = surface.sql(
        """
        SELECT o.o_orderkey FROM orders_sql o
        JOIN shadow_v s ON o.o_custkey = s.o_custkey
        WHERE s.o_custkey IN (1, 2, 3)
        """,
        spark,
    )
    expected = df.where(F.col("o_custkey").isin(1, 2, 3)).select("o_orderkey")
    assert_same_rows(res, expected)
    # the probe (shadow_v) IS filtered by its own conjunct; correctness
    # above is the real assertion — file pruning by join keys may
    # legitimately engage, but never via misattributed literals


def test_advisor_counts_between_as_band(spark, orders_files):
    """BETWEEN (Spark 4: an unresolved between() call) votes for a
    range index, same as explicit >=/< conjuncts."""
    from ariadne_spark.sql.advisor import advise_indexes

    df, _ = orders_files
    recs = advise_indexes(
        [
            "SELECT * FROM adv_orders WHERE o_orderkey BETWEEN 10 AND 99",
            "SELECT * FROM adv_orders WHERE o_orderkey BETWEEN 5 AND 50",
        ],
        spark,
        tables={"adv_orders": df},
    )
    rows = {(r["table"], r["column"]): r.asDict() for r in recs.collect()}
    rec = rows[("adv_orders", "o_orderkey")]
    assert rec.get("suggested") == "range" or "range" in str(rec), rec


def test_window_alias_shadowing_probe_column_not_pushed(spark, orders_view):
    """A WHERE conjunct on a name defined ABOVE the join (window alias
    `rn`) that ALSO exists as a column of the probe-side table must not
    be pushed into the probe: the path from that Filter down to the
    join crosses a Project, so the name is rebound (r04 ADVICE high —
    the old harvest resolved `rn` against the probe's same-named column
    in the subtree-only analysis trial, filtered the wrong column,
    over-pruned the index, and dropped correct rows)."""
    df = orders_view
    # probe table with a column LITERALLY named `rn` (all > 2 so a
    # wrongly-pushed `rn <= 2` would empty the probe entirely)
    keys = df.select("o_custkey").distinct().limit(10).withColumn(
        "rn", F.lit(99)
    )
    keys.createOrReplaceTempView("shadow_rn_keys")
    surface.clear_sql_cache()
    q = """
        SELECT o_custkey, o_orderkey, rn FROM (
            SELECT o.o_custkey, o.o_orderkey,
                   row_number() OVER (
                       PARTITION BY o.o_custkey
                       ORDER BY o.o_orderkey
                   ) AS rn
            FROM orders_sql o
            JOIN shadow_rn_keys k ON o.o_custkey = k.o_custkey
        ) WHERE rn <= 2
    """
    res = surface.sql(q, spark)
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    expected = (
        df.join(spark.table("shadow_rn_keys").select("o_custkey"), "o_custkey")
        .withColumn("rn", F.row_number().over(w))
        .where("rn <= 2")
        .select("o_custkey", "o_orderkey", "rn")
    )
    assert_same_rows(res, expected)


def test_analysis_trial_emits_no_error_logs(spark, orders_view):
    """The rewrite of a window-topn-shaped query (unqualified alias
    conjunct above the join) must not emit a single record through
    PySpark's SQLQueryContextLogger: the barrier drops the conjunct
    before any analysis trial, and residual trials run silenced (the
    r03 bench log carried a full caught-AnalysisException stacktrace
    blob at ERROR from exactly this shape)."""
    import logging

    records = []
    handler = logging.Handler()
    handler.emit = lambda r: records.append(r)
    loggers = [
        logging.getLogger("SQLQueryContextLogger"),
        logging.getLogger("DataFrameQueryContextLogger"),
    ]
    df = orders_view
    keys = df.select("o_custkey").distinct().limit(10)
    keys.createOrReplaceTempView("clean_log_keys")
    surface.clear_sql_cache()
    for lg in loggers:
        lg.addHandler(handler)
    try:
        res = surface.sql(
            """
            SELECT o_custkey, o_orderkey, rn FROM (
                SELECT o.o_custkey, o.o_orderkey,
                       row_number() OVER (
                           PARTITION BY o.o_custkey
                           ORDER BY o.o_orderkey
                       ) AS rn
                FROM orders_sql o
                JOIN clean_log_keys k ON o.o_custkey = k.o_custkey
            ) WHERE rn <= 2
            """,
            spark,
        )
        res.count()
    finally:
        for lg in loggers:
            lg.removeHandler(handler)
    assert not records, [r.getMessage() for r in records]


@pytest.mark.slow
def test_concurrent_sql_pruning_is_isolated(spark, orders_view):
    """Two threads racing pruned SQL on ONE session must each see their
    own (correct) answer: pruned reads live under per-call unique view
    names, never the shared index view (r05 verdict #1 — the old global
    createOrReplaceTempView swap let query B analyze against query A's
    pruned view and silently lose files)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    df = orders_view
    q_pruned = (
        "SELECT count(*) AS n FROM orders_sql WHERE o_custkey IN (1, 2, 3)"
    )
    # full scan over the same view: over-pruning shows up as undercount
    q_full = "SELECT count(*) AS n FROM orders_sql"
    want_pruned = df.where(F.col("o_custkey").isin([1, 2, 3])).count()
    want_full = df.count()
    surface.clear_sql_cache()
    spark.conf.set("spark.ariadne.sqlRewriteCache", "false")
    barrier = threading.Barrier(2)

    def run(q):
        barrier.wait()
        return [surface.sql(q, spark).collect()[0]["n"] for _ in range(6)]

    try:
        with ThreadPoolExecutor(2) as ex:
            f1 = ex.submit(run, q_pruned)
            f2 = ex.submit(run, q_full)
            got_pruned, got_full = f1.result(), f2.result()
    finally:
        spark.conf.unset("spark.ariadne.sqlRewriteCache")
    assert got_pruned == [want_pruned] * 6, got_pruned
    assert got_full == [want_full] * 6, got_full
    # the shared view itself was never left pruned
    assert spark.table("orders_sql").count() == want_full
    # same race with the swap cache ON (the replay path also builds
    # per-call unique views; cache dict mutation must not corrupt it)
    barrier2 = threading.Barrier(2)

    def run_cached(q):
        barrier2.wait()
        return [surface.sql(q, spark).collect()[0]["n"] for _ in range(4)]

    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(run_cached, q_pruned)
        f2 = ex.submit(run_cached, q_full)
        assert f1.result() == [want_pruned] * 4
        assert f2.result() == [want_full] * 4


def test_sql_leaves_no_unique_views_behind(spark, orders_view):
    """Per-call pruned views are dropped after (eager) analysis — the
    session's temp-view namespace does not grow with sql() calls."""
    surface.sql(
        "SELECT o_orderkey FROM orders_sql WHERE o_custkey IN (5, 6)", spark
    ).count()
    leftovers = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("ariadne_pruned_")
    ]
    assert leftovers == [], leftovers


@pytest.mark.slow
def test_swap_cache_invalidated_by_index_update(spark, storage, orders_files):
    """The memoized rewrite keys on every index view's manifest
    fingerprint: adding files to the index between two identical
    queries must MISS the cache and see the new data."""
    df, files = orders_files
    idx = Index.for_name(
        "cache_inv_sql", schema=df.schema, format="parquet", spark=spark
    )
    idx.add_index("o_custkey")
    idx.add_files(files[:-1]).update()
    surface.register_views(spark, ["cache_inv_sql"])
    surface.clear_sql_cache()
    q = "SELECT count(*) AS n FROM cache_inv_sql WHERE o_custkey IN (1, 2, 3)"
    n1 = surface.sql(q, spark).collect()[0]["n"]
    assert surface.sql(q, spark).collect()[0]["n"] == n1  # cache hit, same
    idx.add_files([files[-1]]).update()
    n2 = surface.sql(q, spark).collect()[0]["n"]
    expected = df.where(F.col("o_custkey").isin([1, 2, 3])).count()
    assert n2 == expected and n2 >= n1


def test_sql_date_literal_join_prunes_to_matching_files(spark, storage, orders_files, tmp_path):
    """``o_orderdate = DATE '...'`` reaches locate as a date (Catalyst
    holds DATE literals as days since the epoch), so the rewritten join
    reads only the files holding that day instead of falling back to
    the full view; a TIMESTAMP literal on a timestamp-typed regular
    index prunes the same way."""
    import ariadne_spark
    from ariadne_spark.sources.files import normalize_path
    from .conftest import SF_DIR

    df, files = orders_files
    dated = []
    for i, f in enumerate(files):
        out = str(tmp_path / f"d{i}")
        spark.read.parquet(f).select(
            "o_orderkey", "o_custkey", "o_orderdate",
            F.to_date("o_orderdate").alias("o_day"),
        ).coalesce(1).write.parquet(out)
        dated += [str(p) for p in sorted((tmp_path / f"d{i}").glob("*.parquet"))]
    data = spark.read.parquet(*dated)
    idx = Index.for_name("orders_day", schema=data.schema, format="parquet", spark=spark)
    idx.add_index("o_day").add_index("o_orderdate").add_files(dated).update()
    surface.register_views(spark, ["orders_day"])
    spark.read.parquet(f"{SF_DIR}/customer.parquet").createOrReplaceTempView("cust_day")
    row = data.orderBy("o_orderkey").first()
    day, ts = row["o_day"], row["o_orderdate"]
    holding = {
        normalize_path(f)
        for f in dated
        if spark.read.parquet(f).where(F.col("o_day") == day).count()
    }
    assert 0 < len(holding) < len(dated)
    for col, lit in (("o_day", f"DATE '{day}'"), ("o_orderdate", f"TIMESTAMP_NTZ '{ts}'")):
        got = surface.sql(
            "SELECT o_orderkey, c_name FROM orders_day "
            f"JOIN cust_day ON o_custkey = c_custkey WHERE {col} = {lit}",
            spark,
        )
        want = data.where(F.col("o_day") == day).join(
            spark.table("cust_day"), F.col("o_custkey") == F.col("c_custkey")
        ).select("o_orderkey", "c_name")
        assert_same_rows(got, want)
        rep = {r["view"]: r for r in ariadne_spark.prune_report(spark).collect()}
        r = rep["orders_day"]
        assert col in r["probed_columns"]
        assert r["files_selected"] == len(holding), (col, r)
        assert r["planner"] == "local"


def test_sql_where_on_unbuilt_index_column_reads_every_file(spark, orders_view):
    """A column added with ``add_index`` but not yet backfilled by
    ``update()`` constrains no file: the rewritten query keeps the full
    answer, before and after the backfill."""
    df = orders_view
    idx = Index.for_name("orders_sql", spark=spark)
    idx.add_index("o_orderstatus")
    every = sorted(idx.filelist.filenames())
    assert sorted(idx.locate_files({"o_orderstatus": ["F"]})) == every
    q = "SELECT o_orderkey, o_orderstatus FROM orders_sql WHERE o_orderstatus = 'F'"
    want = df.where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderstatus")
    assert_same_rows(surface.sql(q, spark), want)
    idx.update()
    assert_same_rows(surface.sql(q, spark), want)
