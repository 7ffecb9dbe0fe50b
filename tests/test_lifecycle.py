"""Lifecycle parity tests (SURVEY.md §5 layer 3): incremental == full,
cleanup+refill idempotence, clone resolution, DAG ordering."""

from __future__ import annotations

import datetime
import glob
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kin_data_pipeline_spark.plans import txlog
from kin_data_pipeline_spark.plans.checks import non_negative, not_null, unique
from kin_data_pipeline_spark.plans.engine import Catalog, Runner
from kin_data_pipeline_spark.plans.model import Model, topo_sort
from kin_data_pipeline_spark.sources.catalog import load_table

RUN = datetime.date(2024, 2, 1)

def _models(sf_dir):
    def fact_events(ctx):
        ev = load_table(ctx.spark, sf_dir, "events")
        return (
            ev.withColumn("date_key", F.to_date("ts"))
            # complete-day guard (P3): only closed days before run_date
            .filter(F.col("date_key") < F.lit(ctx.run_date))
            .select("date_key", "event_id", "user_id", "event_type", "value")
        )

    def daily_summary(ctx):
        return (
            ctx.table("fact_events")
            .groupBy("date_key")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
            )
        )

    def weekly_summary(ctx):
        # Complete-period guard (SURVEY §2.9): a weekly model must only emit
        # fully-elapsed weeks, else the high-watermark anchor would freeze a
        # partially-loaded week forever.
        return (
            ctx.table("fact_events")
            .groupBy(F.trunc("date_key", "week").alias("date_key"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .filter(F.date_add(F.col("date_key"), 7) <= F.lit(ctx.run_date))
        )

    return [
        Model("fact_events", fact_events, cadence="daily"),
        Model("daily_summary", daily_summary, cadence="daily", depends_on=["fact_events"]),
        Model("weekly_summary", weekly_summary, cadence="weekly", depends_on=["fact_events"]),
        Model("daily_summary_clone", clone_of="daily_summary"),
    ]

def _snapshot(catalog, name):
    df = catalog.table(name)
    return sorted(tuple(str(v) for v in row) for row in df.collect())

def test_topo_sort_orders_dependencies(sf_dir):
    models = _models(sf_dir)
    order = [m.name for m in topo_sort(models)]
    assert order.index("fact_events") < order.index("daily_summary")
    assert order.index("daily_summary") < order.index("daily_summary_clone")

def test_topo_sort_detects_cycles():
    a = Model("a", lambda ctx: None, depends_on=["b"])
    b = Model("b", lambda ctx: None, depends_on=["a"])
    with pytest.raises(ValueError, match="cycle"):
        topo_sort([a, b])

def test_incremental_equals_full_refresh(spark, sf_dir, tmp_path):
    models = _models(sf_dir)
    final_date = datetime.date(2024, 1, 31)

    cat_full = Catalog(spark, str(tmp_path / "full"))
    Runner(spark, cat_full).run(models, final_date, "full_refresh")

    cat_inc = Catalog(spark, str(tmp_path / "inc"))
    runner = Runner(spark, cat_inc)
    for d in (datetime.date(2024, 1, 10), datetime.date(2024, 1, 20), final_date):
        runner.run(models, d, "incremental")

    for name in ("fact_events", "daily_summary", "weekly_summary"):
        assert _snapshot(cat_inc, name) == _snapshot(cat_full, name), name

def test_cleanup_then_refill_is_idempotent(spark, sf_dir, tmp_path):
    models = _models(sf_dir)
    final_date = datetime.date(2024, 1, 31)
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    runner.run(models, final_date, "full_refresh")
    before = {n: _snapshot(cat, n) for n in ("fact_events", "daily_summary")}

    dropped = runner.cleanup(models, datetime.date(2024, 1, 15))
    assert dropped["fact_events"] > 0
    assert _snapshot(cat, "fact_events") != before["fact_events"]

    runner.run(models, final_date, "incremental")
    for name in ("fact_events", "daily_summary"):
        assert _snapshot(cat, name) == before[name], name

def test_clone_is_zero_copy_alias(spark, sf_dir, tmp_path):
    models = _models(sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    Runner(spark, cat).run(models, datetime.date(2024, 1, 31), "full_refresh")
    assert _snapshot(cat, "daily_summary_clone") == _snapshot(cat, "daily_summary")
    # the alias reads the source's own files: nothing was copied
    assert sorted(cat.table("daily_summary_clone").inputFiles()) == sorted(
        cat.table("daily_summary").inputFiles()
    )

def test_upsert_into_clone_materializes_copy_on_write(spark, sf_dir, tmp_path):
    """Upserting through a clone name must materialize the clone (alias
    dropped, its own files written) and leave the SOURCE untouched."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    base = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    catalog.write_full("src", base, date_col=None)
    catalog.clone("dst", "src")
    patch = spark.createDataFrame([(1, 999), (7, 700)], ["k", "v"])
    catalog.upsert_by_key("dst", patch, key_cols=["k"], date_col=None)
    # alias gone: the clone now reads files of its own
    assert not set(catalog.table("dst").inputFiles()) & set(
        catalog.table("src").inputFiles()
    )
    got = {r["k"]: r["v"] for r in catalog.table("dst").collect()}
    assert got[1] == 999 and got[7] == 700 and got[0] == 0
    # source unchanged (copy-on-write)
    src = {r["k"]: r["v"] for r in catalog.table("src").collect()}
    assert src[1] == 10 and 7 not in src

def test_delete_through_clone_refuses(spark, sf_dir, tmp_path):
    """delete_where_date_ge through a clone alias would destroy the source's
    partitions — the catalog must refuse (Snowflake CLONE is copy-on-write)."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 1), 1), (datetime.date(2024, 1, 5), 2)],
        ["date_key", "v"],
    )
    catalog.write_full("src", df, date_col="date_key")
    catalog.clone("dst", "src")
    with pytest.raises(ValueError, match="clone"):
        catalog.delete_where_date_ge("dst", "date_key", datetime.date(2024, 1, 3))
    # source intact
    assert catalog.table("src").count() == 2

def test_concurrent_run_equals_sequential(spark, sf_dir, tmp_path):
    """Wave-parallel materialization writes byte-identical tables to the
    sequential runner, and every wave only starts after its upstreams are
    fully written (clone alias included)."""
    models = _models(sf_dir)
    final_date = datetime.date(2024, 1, 31)

    cat_seq = Catalog(spark, str(tmp_path / "seq"))
    seq_results = Runner(spark, cat_seq).run(models, final_date, "full_refresh")

    cat_par = Catalog(spark, str(tmp_path / "par"))
    par_results = Runner(spark, cat_par).run_concurrent(
        models, final_date, "full_refresh", max_workers=4
    )
    assert {r.model for r in par_results} == {r.model for r in seq_results}
    for m in models:
        assert _snapshot(cat_par, m.name) == _snapshot(cat_seq, m.name), m.name

    # incremental waves too: three catch-up runs converge to the same state
    cat_inc = Catalog(spark, str(tmp_path / "par_inc"))
    runner = Runner(spark, cat_inc)
    for d in (datetime.date(2024, 1, 10), datetime.date(2024, 1, 20), final_date):
        runner.run_concurrent(models, d, "incremental")
    for name in ("fact_events", "daily_summary", "weekly_summary"):
        assert _snapshot(cat_inc, name) == _snapshot(cat_seq, name), name

def test_compaction_collapses_files_preserving_data(spark, sf_dir, tmp_path):
    """Repeated appends fragment partitions into many small files; compact
    rewrites to one file per date partition with identical contents, and
    refuses to operate through a clone alias."""
    from kin_data_pipeline_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path / "wh"))
    day = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", F.to_date("ts").alias("date_key"))
    )
    for _ in range(3):  # three appends -> >=3 files per partition
        cat.write_append("frag", day, "date_key")
    before_rows = cat.table("frag").count()

    n_before, n_after = cat.compact("frag", "date_key")
    n_parts = cat.table("frag").select("date_key").distinct().count()
    assert n_before >= 3 * n_parts
    assert n_after == n_parts  # exactly one file per date partition
    assert cat.table("frag").count() == before_rows

    cat.clone("frag_alias", "frag")
    with pytest.raises(ValueError, match="clone"):
        cat.compact("frag_alias", "date_key")

def test_compaction_crash_self_heals(spark, sf_dir, tmp_path, crash):
    """compact() commits its rewrite as one log entry, so a crash at
    either crash point loses nothing: before the entry the table reads its
    old files (the new ones are uncommitted and invisible), after it the
    compacted files (the replaced ones linger until vacuum)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 1), 1), (datetime.date(2024, 1, 2), 2)],
        ["date_key", "v"],
    )
    cat.write_full("t", df, "date_key")
    rows = sorted(tuple(r) for r in cat.table("t").collect())
    before = crash.live_files(cat, "t")

    # crash after the compacted files are written, before the log entry
    with crash.at(txlog, "create"):
        cat.compact("t", "date_key")
    crash.recover()
    assert cat.exists("t") and crash.live_files(cat, "t") == before
    assert sorted(tuple(r) for r in cat.table("t").collect()) == rows

    # crash after the log entry, before the replaced files are deleted
    with crash.at(Catalog, "_delete_files"):
        cat.compact("t", "date_key")
    crash.recover()
    assert crash.live_files(cat, "t").isdisjoint(before)
    assert sorted(tuple(r) for r in cat.table("t").collect()) == rows
    assert before <= crash.files_on_disk(cat, "t")

    # vacuum removes both crashes' leftovers and nothing the table reads
    cat.vacuum("t", min_age_s=0.0)
    assert crash.files_on_disk(cat, "t") == crash.live_files(cat, "t")
    assert sorted(tuple(r) for r in cat.table("t").collect()) == rows

def test_append_after_compaction_crash_restores_before_appending(spark, tmp_path, crash):
    """A write_append made right after a mid-compact crash appends to
    the last committed table — the crashed compaction's files are not
    part of it — and vacuum later removes those files."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 1), 1), (datetime.date(2024, 1, 2), 2)],
        ["date_key", "v"],
    )
    cat.write_full("t", df, "date_key")
    with crash.at(txlog, "create"):
        cat.compact("t", "date_key")
    crash.recover()
    delta = spark.createDataFrame([(datetime.date(2024, 1, 3), 3)], ["date_key", "v"])
    cat.write_append("t", delta, "date_key")
    got = sorted(tuple(r) for r in cat.table("t").select("date_key", "v").collect())
    assert got == [
        (datetime.date(2024, 1, 1), 1),
        (datetime.date(2024, 1, 2), 2),
        (datetime.date(2024, 1, 3), 3),
    ]
    assert crash.files_on_disk(cat, "t") > crash.live_files(cat, "t")
    cat.vacuum("t", min_age_s=0.0)
    assert crash.files_on_disk(cat, "t") == crash.live_files(cat, "t")

def test_duplicate_check_names_rejected(spark, sf_dir):
    from kin_data_pipeline_spark.plans import checks as C
    from kin_data_pipeline_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    # Same column, different value lists → distinct names now, both counted.
    results = C.run_checks(
        ev,
        [
            C.accepted_values("event_type", ["purchase"]),
            C.accepted_values("event_type", ["purchase", "view", "click", "signup", "error"]),
        ],
    )
    assert len(results) == 2
    # Genuinely identical names collide loudly instead of masking a count.
    with pytest.raises(ValueError, match="duplicate check names"):
        C.run_checks(ev, [C.not_null("value"), C.not_null("value")])

def test_data_quality_checks_single_pass(spark, sf_dir):
    """dbt-style declarative checks: all checks on a table evaluate in one
    aggregation job; violation counts are exact; the kin fact passes its
    own contract."""
    from kin_data_pipeline_spark.models.kin import fact_kin_transaction
    from kin_data_pipeline_spark.plans import checks as C
    from kin_data_pipeline_spark.sources.catalog import load_table

    fact = fact_kin_transaction(spark, sf_dir)
    results = C.run_checks(
        fact,
        [
            C.not_null("id", "date_key", "from_wallet"),
            C.unique("id"),
            C.accepted_values("txn_type", ["1", "2", "3", None]),
            C.non_negative("fee_sol", "amount_quark"),
        ],
    )
    assert all(v == 0 for v in results.values()), results

    # violations are detected and reported, not silently passed
    ev = load_table(spark, sf_dir, "events")
    bad = C.run_checks(
        ev,
        [
            C.accepted_values("event_type", ["purchase"]),  # most rows violate
            C.in_range("value", 0, 1),
        ],
    )
    assert bad["accepted_values(event_type, ['purchase'])"] > 0
    assert bad["in_range(value, 0, 1)"] > 0
    with __import__("pytest").raises(AssertionError, match="data-quality"):
        C.assert_checks(ev, [C.accepted_values("event_type", ["purchase"])], "events")
    # debugging path: violating rows are exactly the non-accepted ones
    viol = C.violations(ev, C.accepted_values("event_type", ["purchase"]))
    assert viol.count() == bad["accepted_values(event_type, ['purchase'])"]


def test_incremental_tick_checks_only_the_delta(spark, tmp_path):
    """A model's checks gate exactly the rows a tick appends: a violation
    already stored cannot block the tick, and a violating delta row fails
    it with the check's name, commits nothing and leaves no staging."""
    d = datetime.date
    ddl = "id long, v string, date_key date"
    catalog = Catalog(spark, str(tmp_path / "wh"))
    catalog.write_full("t", spark.createDataFrame([(1, None, d(2024, 1, 1))], ddl), "date_key")
    feed = [(1, None, d(2024, 1, 1)), (2, "b", d(2024, 1, 2))]
    model = Model(
        "t", lambda ctx: ctx.spark.createDataFrame(feed, ddl),
        cadence="daily", date_col="date_key", checks=(not_null("v"),),
    )
    runner = Runner(spark, catalog)
    assert [r.action for r in runner.run([model], d(2024, 1, 3))] == ["incremental"]
    assert catalog.table("t").count() == 2
    tip = txlog.tip(catalog.path("t"))["n"]
    feed.append((3, None, d(2024, 1, 3)))
    with pytest.raises(Exception, match=re.escape("not_null(v)")):
        runner.run([model], d(2024, 1, 4))
    assert txlog.tip(catalog.path("t"))["n"] == tip
    assert catalog.table("t").count() == 2
    assert not glob.glob(os.path.join(catalog.path("t"), "_tmp-*"))


def test_refresh_breaking_unique_keeps_previous_version(spark, tmp_path):
    """``unique`` is verified on the written keys before the commit: NULL
    keys are ignored, and a duplicated key fails the refresh with the
    check's name and the key, leaving the previous version and no files
    of the failed write."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    docs = [(1, "a"), (2, "b"), (None, "n"), (None, "m")]
    model = Model(
        "docs", lambda ctx: ctx.spark.createDataFrame(docs, "doc_id long, text string"),
        date_col=None, checks=(unique("doc_id"),),
    )
    runner = Runner(spark, catalog)
    runner.run([model], RUN, "full_refresh")
    before = _snapshot(catalog, "docs")
    tip = txlog.tip(catalog.path("docs"))
    docs[:] = [(1, "a"), (7, "x"), (7, "y")]
    with pytest.raises(ValueError, match=r'unique\(doc_id\).*"doc_id": 7'):
        runner.run([model], RUN, "full_refresh")
    assert txlog.tip(catalog.path("docs"))["n"] == tip["n"]
    assert _snapshot(catalog, "docs") == before
    on_disk = glob.glob(os.path.join(catalog.path("docs"), "**", "*.parquet"), recursive=True)
    assert len(on_disk) == len(tip["files"])


def test_checked_model_evaluates_its_builder_once(spark, tmp_path):
    """Row checks ride the write's own job: a full refresh of a checked
    model runs as many Spark jobs as the same model without checks."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext

    def jobs(name, checks):
        model = Model(
            name, lambda ctx: ctx.spark.range(1000).selectExpr("id", "id % 7 AS v"),
            date_col=None, checks=checks,
        )
        sc.setJobGroup(name, name)
        try:
            Runner(spark, catalog).run([model], RUN, "full_refresh")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(name))

    plain = jobs("plain", ())
    assert plain >= 1
    assert jobs("checked", (not_null("id"), non_negative("v"))) == plain


def test_incremental_run_of_undated_model_stays_full(spark, sf_dir, tmp_path):
    """A model with date_col=None has no watermark axis: an incremental
    Runner pass must fall back to a full rewrite, never call
    high_watermark(None) (which would crash the whole DAG on pass two)."""
    def totals(ctx):
        return (
            load_table(ctx.spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    models = [Model("event_totals", totals, cadence="daily", date_col=None)]
    catalog = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, catalog)
    d = datetime.date(2024, 2, 1)
    first = runner.run(models, d, "incremental")
    second = runner.run(models, d, "incremental")
    assert [r.action for r in first] == ["full"]
    assert [r.action for r in second] == ["full"]
    assert catalog.table("event_totals").count() > 0


def test_append_into_clone_materializes_copy_on_write(spark, sf_dir, tmp_path):
    """write_append on a clone alias must materialize the aliased data
    first (Snowflake clone semantics, same as upsert) — never drop the
    marker and leave a table holding only the delta."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(1, "a", datetime.date(2024, 1, 1)), (2, "b", datetime.date(2024, 1, 2))],
        "id long, s string, date_key date",
    )
    catalog.write_full("src", base, "date_key")
    catalog.clone("t", "src")
    delta = spark.createDataFrame(
        [(3, "c", datetime.date(2024, 1, 3))], "id long, s string, date_key date"
    )
    catalog.write_append("t", delta, "date_key")
    got = sorted(r["id"] for r in catalog.table("t").collect())
    assert got == [1, 2, 3]
    # and the source is untouched
    assert sorted(r["id"] for r in catalog.table("src").collect()) == [1, 2]


def test_append_refuses_to_narrow_recorded_schema(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    full = spark.createDataFrame([(1, "a", 5.0)], "id long, s string, v double")
    catalog.write_full("t", full, date_col=None)
    narrow = spark.createDataFrame([(2, "b")], "id long, s string")
    with pytest.raises(ValueError, match="lacks recorded columns"):
        catalog.write_append("t", narrow, date_col=None)
    # widening appends stay legal (older files null-fill the new column)
    wide = spark.createDataFrame(
        [(3, "c", 7.0, "x")], "id long, s string, v double, extra string"
    )
    catalog.write_append("t", wide, date_col=None)
    cols = set(catalog.table("t").columns)
    assert cols == {"id", "s", "v", "extra"}
    assert catalog.table("t").count() == 2


def test_cleanup_skips_null_date_partition(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1)), (2, datetime.date(2024, 2, 1)), (3, None)],
        "id long, date_key date",
    )
    catalog.write_full("t", df, "date_key")
    dropped = catalog.delete_where_date_ge("t", "date_key", datetime.date(2024, 2, 1))
    assert dropped == 1
    got = sorted((r["id"], r["date_key"]) for r in catalog.table("t").collect())
    assert got == [(1, datetime.date(2024, 1, 1)), (3, None)]


def test_erasure_and_changelog_refuse_bucketed_layout(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    catalog.write_bucketed("t", df, ["id"], 4)
    with pytest.raises(ValueError, match="bucketed"):
        catalog.delete_by_keys("t", "id", [1])
    log = spark.createDataFrame([(1, "z", "U", 1)], "id long, s string, op string, seq long")
    with pytest.raises(ValueError, match="bucketed"):
        catalog.apply_changelog("t", log, ["id"])


def test_key_erasure_writes_one_file_per_date_and_side(spark, tmp_path):
    """delete_by_keys rebalances its single-pass write by (side, date): on
    a table whose dates each span several files, the survivors and the
    erased change feed come out as one file per date, not one per task."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    days = [datetime.date(2024, 1, d) for d in (1, 2, 3, 4)]
    for batch in range(3):
        rows = [(batch * 100 + i, str(i % 5), day) for i, day in enumerate(days * 10)]
        catalog.write_append(
            "t", spark.createDataFrame(rows, "id long, k string, date_key date"), "date_key"
        )
    catalog.enable_versioning("t")

    def per_date(files):
        return Counter(txlog.part_values(f["path"])["date_key"] for f in files)

    assert set(per_date(txlog.tip(catalog.path("t"))["files"]).values()) == {3}
    # one scan task per file, as on a table larger than a scan split
    conf = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "1k")
    try:
        assert catalog.delete_by_keys("t", "k", ["0"]) == 24
    finally:
        spark.conf.set(conf, prev)
    entry = txlog.tip(catalog.path("t"))
    want = {str(day): 1 for day in days}
    assert per_date(entry["files"]) == want
    assert per_date(entry["changes"]["files"]) == want


def test_vacuum_heals_tables_visible_only_through_scratch(spark, tmp_path, crash):
    """A table whose FIRST write crashed before its log entry does not
    exist — list_tables and exists() ignore its uncommitted files — and
    vacuum's all-tables mode still finds and removes them."""
    import os as _os

    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    with crash.at(txlog, "create"):
        catalog.write_full("t", df, date_col=None)
    crash.recover()
    assert crash.files_on_disk(catalog, "t")
    assert "t" not in catalog.list_tables() and not catalog.exists("t")
    catalog.vacuum(min_age_s=0.0)  # all-tables mode must still find it
    assert not _os.path.exists(catalog.path("t"))
    catalog.write_full("t", df, date_col=None)
    assert sorted(r["id"] for r in catalog.table("t").collect()) == [1]
