"""Bucketed-table layout: co-located sort-merge joins must compile with NO
shuffle exchange on either side — the 100 TB fact-join layout decision —
and the layout must survive a fresh session via re-registration from the
table's log."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from kin_data_pipeline_spark.plans.engine import Catalog
from kin_data_pipeline_spark.sources.catalog import load_table

@contextlib.contextmanager
def _no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

@pytest.fixture()
def bucketed_pair(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    cat.write_bucketed(
        "orders_b", orders, ["o_orderkey"], 4, sort_cols=["o_orderkey"]
    )
    cat.write_bucketed(
        "lineitem_b", lineitem, ["l_orderkey"], 4, sort_cols=["l_orderkey"]
    )
    return cat

def _join_plan(cat):
    o = cat.bucketed_table("orders_b")
    li = cat.bucketed_table("lineitem_b")
    joined = o.join(li, o.o_orderkey == li.l_orderkey).groupBy("o_orderkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    return joined, joined._jdf.queryExecution().executedPlan().toString()

def test_bucketed_join_has_no_shuffle(spark, bucketed_pair):
    with _no_broadcast(spark):
        joined, plan = _join_plan(bucketed_pair)
        assert "SortMergeJoin" in plan
        join_side = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange hashpartitioning" not in join_side, plan
        assert joined.count() > 0

def test_bucketed_rows_match_plain_join(spark, sf_dir, bucketed_pair):
    with _no_broadcast(spark):
        joined, _ = _join_plan(bucketed_pair)
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        expected = (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        got = {(r["o_orderkey"], str(r["qty"])) for r in joined.collect()}
        want = {(r["o_orderkey"], str(r["qty"])) for r in expected.collect()}
        assert got == want

def test_bucket_layout_survives_catalog_reregistration(spark, bucketed_pair):
    # simulate a fresh session: drop the session-catalog idents (external
    # tables — data stays on disk), then read through the log's bucket record
    spark.sql("DROP TABLE IF EXISTS bucketed_orders_b")
    spark.sql("DROP TABLE IF EXISTS bucketed_lineitem_b")
    with _no_broadcast(spark):
        joined, plan = _join_plan(bucketed_pair)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan.split("SortMergeJoin", 1)[1]
        assert joined.count() > 0

def test_bucketed_table_requires_sidecar(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError):
        cat.bucketed_table("nope")


def test_bucketed_model_in_dag_joins_without_shuffle(spark, sf_dir, tmp_path):
    """Model.bucket_by flows through the Runner: the materialized tables
    read back bucketed (via Catalog.table), and a downstream model's join
    on the bucket key compiles with no shuffle on either side."""
    import datetime

    from kin_data_pipeline_spark.plans.engine import Runner
    from kin_data_pipeline_spark.plans.model import Model

    cat = Catalog(spark, str(tmp_path / "wh"))
    run = datetime.date(2024, 2, 1)
    orders_m = Model(
        name="orders_bm",
        builder=lambda ctx: load_table(ctx.spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        ),
        bucket_by=("o_orderkey",),
        n_buckets=4,
        date_col=None,
    )
    items_m = Model(
        name="lineitem_bm",
        builder=lambda ctx: load_table(ctx.spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        ),
        bucket_by=("o_orderkey",),
        n_buckets=4,
        date_col=None,
    )
    joined_m = Model(
        name="order_qty",
        builder=lambda ctx: ctx.table("orders_bm").join(
            ctx.table("lineitem_bm"), "o_orderkey"
        ),
        depends_on=("orders_bm", "lineitem_bm"),
        date_col=None,
    )
    with _no_broadcast(spark):
        results = Runner(spark, cat).run([joined_m, orders_m, items_m], run)
        assert [r.action for r in results] == ["full", "full", "full"]
        df = cat.table("orders_bm").join(cat.table("lineitem_bm"), "o_orderkey")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan.split("SortMergeJoin", 1)[1]
    # a second run still full-refreshes (bucketed models never append)
    results2 = Runner(spark, cat).run([orders_m], run)
    assert results2[0].action == "full"


def test_full_write_clears_stale_bucket_layout(spark, sf_dir, tmp_path):
    """write_full over a bucketed table must drop the recorded bucket
    layout: routing the next read through the old bucketed scan would
    fail on the plain-named files (or silently mis-join)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cat.write_bucketed("t", orders, ["o_orderkey"], 4)
    cat.write_full("t", orders.limit(10), date_col=None)
    with pytest.raises(ValueError, match="not a bucketed table"):
        cat.bucketed_table("t")
    assert cat.table("t").count() == 10  # plain read, no bucket routing

def test_compact_refuses_bucketed_tables(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cat.write_bucketed("t", orders, ["o_orderkey"], 4)
    with pytest.raises(ValueError, match="bucketed"):
        cat.compact("t", None)

def test_bucketed_ident_not_shared_across_catalogs(spark, sf_dir, tmp_path):
    """Two Catalog instances in one session: the session-catalog ident from
    warehouse A must not serve reads for the same table name in B."""
    cat_a = Catalog(spark, str(tmp_path / "wh_a"))
    cat_b = Catalog(spark, str(tmp_path / "wh_b"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cat_a.write_bucketed("same_name", orders, ["o_orderkey"], 4)
    cat_b.write_bucketed("same_name", orders.limit(5), ["o_orderkey"], 4)
    # B's write re-registered the ident at B's location; reading through A
    # must detect the mismatch and re-register for A's path
    assert cat_a.table("same_name").count() == orders.count()
    assert cat_b.table("same_name").count() == 5

def test_model_rejects_bucket_by_with_date_col():
    from kin_data_pipeline_spark.plans.model import Model

    with pytest.raises(ValueError, match="mutually"):
        Model(name="x", builder=lambda ctx: None, bucket_by=("k",))
