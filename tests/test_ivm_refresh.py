"""IVM as a Runner refresh strategy (Model.ivm → Runner._run_ivm): a
rollup mart declared over a versioned source is maintained from the
change feed instead of rebuilt. Pins (VERDICT r8 ask #3):

- IVM refresh == full rebuild across a multi-commit history including
  deletes (exact table equality after every commit);
- the incremental path never scans the source's base data (the source's
  live files and version snapshots are deleted and refresh still works
  from change files alone);
- unchanged tip → recorded no-op; out-of-band writes invalidate the
  recorded state and force a rebuild; unsound row_transforms are rejected
  before any write.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from kin_data_pipeline_spark.plans import txlog
from kin_data_pipeline_spark.plans.engine import Catalog, Runner
from kin_data_pipeline_spark.plans.guard import PlanGuardError
from kin_data_pipeline_spark.plans.model import IvmSpec, Model, topo_sort

RUN_DATE = datetime.date(2024, 1, 31)
DDL = "k bigint, status string, amount double, note string"


def _destroy_base(cat, name):
    """Delete every data file of ``name`` that no commit's change feed
    lists — every copy of the base data, at every version."""
    root = cat.path(name)
    entries = txlog.entries(root)
    feed = {
        f["path"] for e in entries for f in (e["changes"] or {}).get("files", ())
    }
    for path in {f["path"] for e in entries for f in e["files"]} - feed:
        os.remove(os.path.join(root, path))


def _rows_of(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def _cents(df):
    # kin-style row derivation: unit scaling + a filter, additive so the
    # CDF's _change_type column passes through untouched
    return df.withColumn(
        "cents", (F.col("amount").cast("decimal(18,2)") * 100).cast("long")
    ).filter(F.col("status") != "void")


def _mart(name="status_rollup", **over) -> Model:
    kw = dict(
        name=name,
        ivm=IvmSpec(
            source="txns",
            group_by=["status"],
            measures={"total_cents": "cents"},
            count_col="n_rows",
            row_transform=_cents,
        ),
        date_col=None,
    )
    kw.update(over)
    return Model(**kw)


def _seed(spark, cat: Catalog, rows):
    cat.write_full("txns", spark.createDataFrame(rows, DDL), None)
    cat.enable_versioning("txns")


def _recompute(spark, cat: Catalog):
    from kin_data_pipeline_spark.operators.incremental import aggregate_base

    return aggregate_base(
        _cents(cat.table("txns")), ["status"], {"total_cents": "cents"}
    )


def test_ivm_refresh_equals_full_rebuild_across_commits(spark, tmp_path):
    """The maintained mart matches a from-scratch rebuild after every
    commit of a history with appends, key-erase deletes (including one
    that empties a group), and an upsert's delete+insert pairs."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [
            (1, "open", 10.5, "a"),
            (2, "open", 2.25, "b"),
            (3, "paid", 7.0, "c"),
            (4, "void", 99.0, "d"),  # filtered by the row_transform
            (5, "late", 1.0, "e"),
        ],
    )
    m = _mart()
    r0 = runner.run([m], RUN_DATE)
    assert r0[0].action == "full"
    assert _rows_of(cat.table(m.name)) == _rows_of(_recompute(spark, cat))

    # commit 1: append (new groups + growth of existing ones)
    cat.write_append(
        "txns",
        spark.createDataFrame(
            [(6, "open", 3.75, "f"), (7, "chargeback", 5.0, "g")], DDL
        ),
        None,
    )
    r1 = runner.run([m], RUN_DATE)
    assert r1[0].action == "ivm"
    assert _rows_of(cat.table(m.name)) == _rows_of(_recompute(spark, cat))

    # commit 2: key-erase that EMPTIES the 'late' group entirely
    cat.delete_by_keys("txns", "status", ["late"])
    # commit 3: upsert = delete+insert pairs in one commit
    cat.upsert_by_key(
        "txns",
        spark.createDataFrame(
            [(1, "paid", 10.5, "a"), (8, "open", 0.25, "h")], DDL
        ),
        ["k"],
        None,
    )
    r2 = runner.run([m], RUN_DATE)
    assert r2[0].action == "ivm"
    got = _rows_of(cat.table(m.name))
    assert got == _rows_of(_recompute(spark, cat))
    assert not any(r[0] == "late" for r in got)  # emptied group vanished


def test_incremental_refresh_never_scans_the_base(spark, tmp_path):
    """After deleting the source's LIVE data files and every version
    snapshot (keeping only change files + the log), the incremental
    refresh still succeeds — proof the maintenance plan reads the mart +
    changelog only. A full rebuild of the same state must fail."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(spark, cat, [(1, "open", 1.0, "a"), (2, "paid", 2.0, "b")])
    m = _mart()
    runner.run([m], RUN_DATE)  # full build at v0, records state
    cat.write_append(
        "txns", spark.createDataFrame([(3, "open", 4.0, "c")], DDL), None
    )  # v1, carries its own change rows
    # destroy every copy of the base data: all files but the change feed
    _destroy_base(cat, "txns")
    res = runner.run([m], RUN_DATE)
    assert res[0].action == "ivm"
    rows = {r["status"]: (r["n_rows"], r["total_cents"]) for r in
            (row.asDict() for row in cat.table(m.name).collect())}
    assert rows == {"open": (2, 500), "paid": (1, 200)}
    # the rebuild path needs the base and must now fail loudly
    with pytest.raises(Exception):
        runner.run([m], RUN_DATE, "full_refresh")


def test_unchanged_tip_is_a_noop(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(spark, cat, [(1, "open", 1.0, "a")])
    m = _mart()
    assert runner.run([m], RUN_DATE)[0].action == "full"
    res = runner.run([m], RUN_DATE)
    assert res[0].action == "noop"
    assert _rows_of(cat.table(m.name)) == _rows_of(_recompute(spark, cat))


def test_out_of_band_write_invalidates_state(spark, tmp_path):
    """A write to the mart OUTSIDE the IVM path drops the recorded state,
    so the next run rebuilds from the tip instead of maintaining on top
    of unknown content."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(spark, cat, [(1, "open", 1.0, "a"), (2, "paid", 2.0, "b")])
    m = _mart()
    runner.run([m], RUN_DATE)
    st = cat.ivm_state(m.name)
    assert (st["source"], st["version"]) == ("txns", 0)
    # clobber the mart directly (not via the Runner)
    cat.write_full(
        m.name,
        spark.createDataFrame(
            [("bogus", 1, 1)], "status string, n_rows long, total_cents long"
        ),
        None,
    )
    assert cat.ivm_state(m.name) is None
    res = runner.run([m], RUN_DATE)
    assert res[0].action == "full"
    assert _rows_of(cat.table(m.name)) == _rows_of(_recompute(spark, cat))


def test_non_row_local_transform_rejected(spark, tmp_path):
    """A row_transform containing an aggregation (not commuting with the
    multiset diff) aborts before any write — on the FIRST run, from the
    probe plan, not only once changes arrive."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, [(1, "open", 1.0, "a")])

    def bad(df):
        return df.groupBy("status").agg(F.sum("amount").alias("amount"))

    m = _mart(ivm=IvmSpec(source="txns", group_by=["status"],
                          measures={}, row_transform=bad))
    with pytest.raises(PlanGuardError, match="Aggregate"):
        Runner(spark, cat).run([m], RUN_DATE)
    assert not cat.exists(m.name)


def test_transform_dropping_change_type_rejected(spark, tmp_path):
    """A narrowing select that drops _change_type fails loudly on the
    incremental path instead of silently miscounting."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(spark, cat, [(1, "open", 1.0, "a")])

    def narrowing(df):
        return df.select("status", "amount")

    m = _mart(ivm=IvmSpec(source="txns", group_by=["status"],
                          measures={"total": "amount"},
                          row_transform=narrowing))
    runner.run([m], RUN_DATE)  # full build: no _change_type involved
    cat.write_append(
        "txns", spark.createDataFrame([(2, "paid", 2.0, "b")], DDL), None
    )
    with pytest.raises(Exception, match="_change_type"):
        runner.run([m], RUN_DATE)


def test_unversioned_source_rejected(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full(
        "txns", spark.createDataFrame([(1, "open", 1.0, "a")], DDL), None
    )  # never versioned
    with pytest.raises(ValueError, match="not.*versioned|versioned"):
        Runner(spark, cat).run([_mart()], RUN_DATE)


def test_model_validation_and_topo_edge():
    with pytest.raises(ValueError, match="exactly one"):
        Model(name="x", builder=lambda ctx: None,
              ivm=IvmSpec(source="s", group_by=["g"]), date_col=None)
    with pytest.raises(ValueError, match="date_col=None"):
        Model(name="x", ivm=IvmSpec(source="s", group_by=["g"]))
    with pytest.raises(ValueError, match="group_by"):
        Model(name="x", ivm=IvmSpec(source="s", group_by=[]), date_col=None)
    src = Model(name="src", builder=lambda ctx: None, date_col=None)
    mart = Model(name="mart", ivm=IvmSpec(source="src", group_by=["g"]),
                 date_col=None)
    assert [m.name for m in topo_sort([mart, src])] == ["src", "mart"]


def _distinct_mart(name="status_rollup_d") -> Model:
    return Model(
        name=name,
        ivm=IvmSpec(
            source="txns",
            group_by=["status"],
            measures={"total_cents": "cents"},
            distinct_counts={"n_notes": "note"},
            row_transform=_cents,
        ),
        date_col=None,
    )


def _recompute_distinct(spark, cat: Catalog):
    return (
        _cents(cat.table("txns"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.col("cents"), F.lit(0))).alias("total_cents"),
            F.countDistinct("note").cast("long").alias("n_notes"),
        )
    )


def test_distinct_count_measure_equals_recompute_across_commits(spark, tmp_path):
    """The second Runner IVM class: exact COUNT(DISTINCT) via a persisted
    support table, equal to the from-scratch recompute after appends
    (duplicate values included), a value-retiring delete, and an upsert's
    typed update pair."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [
            (1, "open", 1.0, "a"),
            (2, "open", 2.0, "a"),  # duplicate note: distinct must be 1
            (3, "open", 3.0, "b"),
            (4, "paid", 4.0, "a"),
        ],
    )
    m = _distinct_mart()
    assert runner.run([m], RUN_DATE)[0].action == "full"
    assert _rows_of(cat.table(m.name)) == _rows_of(_recompute_distinct(spark, cat))
    assert cat.exists(f"{m.name}__support_n_notes")

    # append: a new note value and another duplicate
    cat.write_append(
        "txns",
        spark.createDataFrame([(5, "open", 5.0, "c"), (6, "paid", 6.0, "a")], DDL),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    assert _rows_of(cat.table(m.name)) == _rows_of(_recompute_distinct(spark, cat))

    # delete one copy of a duplicated note (count keeps it), then the
    # LAST copy of another (count drops it) — the support multiset is
    # exactly what makes this decidable without the base
    cat.delete_by_keys("txns", "k", ["2"])  # 'a' persists in open via k=1
    cat.delete_by_keys("txns", "k", ["3"])  # retires 'b' from open
    # upsert: typed update_preimage/postimage flow through the support
    cat.upsert_by_key(
        "txns", spark.createDataFrame([(1, "open", 1.0, "z")], DDL), ["k"], None
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    got = _rows_of(cat.table(m.name))
    assert got == _rows_of(_recompute_distinct(spark, cat))
    open_row = [r for r in got if r[0] == "open"][0]
    assert open_row[3] == 2  # notes {c, z}


def test_distinct_support_maintains_without_the_base(spark, tmp_path):
    """Steady-state distinct maintenance reads the support + changelog
    only: with the source's live files and snapshots destroyed, the
    refresh still lands on the correct distinct counts."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(spark, cat, [(1, "open", 1.0, "a"), (2, "open", 2.0, "b")])
    m = _distinct_mart()
    runner.run([m], RUN_DATE)
    cat.write_append(
        "txns",
        spark.createDataFrame([(3, "open", 3.0, "a"), (4, "paid", 4.0, "c")], DDL),
        None,
    )  # v1 carries its own change rows
    _destroy_base(cat, "txns")
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    rows = {r["status"]: (r["n_rows"], r["n_notes"]) for r in
            (row.asDict() for row in cat.table(m.name).collect())}
    assert rows == {"open": (3, 2), "paid": (1, 1)}


def test_spec_signature_change_forces_rebuild(spark, tmp_path):
    """Editing the IvmSpec (here: adding a distinct measure) must rebuild
    the mart instead of maintaining the stale shape."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(spark, cat, [(1, "open", 1.0, "a"), (2, "paid", 2.0, "b")])
    assert runner.run([_mart()], RUN_DATE)[0].action == "full"
    # same mart name, spec now carries a distinct measure
    m2 = _distinct_mart(name="status_rollup")
    res = runner.run([m2], RUN_DATE)
    assert res[0].action == "full"
    assert "n_notes" in cat.table("status_rollup").columns
    assert _rows_of(cat.table("status_rollup")) == _rows_of(
        _recompute_distinct(spark, cat)
    )


def test_minmax_measure_equals_recompute_across_commits(spark, tmp_path):
    """The third Runner IVM class: hybrid MIN/MAX columns in the mart,
    equal to the from-scratch recompute after an append (delta-only), a
    delete that hits stored extrema (rebuild branch), and a typed upsert
    that replaces a group's maximum."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [
            (1, "open", 10.0, "a"),
            (2, "open", 99.0, "b"),   # open's max
            (3, "paid", 5.0, "c"),
            (4, "paid", 1.0, "d"),    # paid's min
        ],
    )
    m = Model(
        name="status_extrema",
        ivm=IvmSpec(
            source="txns",
            group_by=["status"],
            measures={"total_cents": "cents"},
            minmax={"cents": ("min_cents", "max_cents")},
            row_transform=_cents,
        ),
        date_col=None,
    )

    def recompute():
        return (
            _cents(cat.table("txns"))
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.coalesce(F.col("cents"), F.lit(0))).alias("total_cents"),
                F.min("cents").alias("min_cents"),
                F.max("cents").alias("max_cents"),
            )
        )

    assert runner.run([m], RUN_DATE)[0].action == "full"
    assert _rows_of(cat.table(m.name)) == _rows_of(recompute())

    # append: improves open's max delta-only, adds a new group
    cat.write_append(
        "txns",
        spark.createDataFrame([(5, "open", 200.0, "e"), (6, "late", 7.0, "f")], DDL),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    assert _rows_of(cat.table(m.name)) == _rows_of(recompute())

    # delete the stored extrema: open's max (k=5) and paid's min (k=4)
    cat.delete_by_keys("txns", "k", ["5"])
    cat.delete_by_keys("txns", "k", ["4"])
    # typed upsert lowering open's remaining max (k=2: 99 -> 3)
    cat.upsert_by_key(
        "txns", spark.createDataFrame([(2, "open", 3.0, "b")], DDL), ["k"], None
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    got = _rows_of(cat.table(m.name))
    assert got == _rows_of(recompute())
    open_row = [r for r in got if r[0] == "open"][0]
    # (status, n_rows, total_cents, min_cents, max_cents)
    assert (open_row[3], open_row[4]) == (300, 1000)  # min 3.0, max 10.0


def test_all_three_ivm_classes_compose_in_one_mart(spark, tmp_path):
    """COUNT+SUM, COUNT(DISTINCT) via support, and hybrid MIN/MAX in a
    single declared mart, maintained through a group-emptying delete."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [(1, "open", 1.0, "a"), (2, "open", 2.0, "a"), (3, "paid", 3.0, "b")],
    )
    m = Model(
        name="status_full",
        ivm=IvmSpec(
            source="txns",
            group_by=["status"],
            measures={"total_cents": "cents"},
            distinct_counts={"n_notes": "note"},
            minmax={"cents": ("min_cents", "max_cents")},
            row_transform=_cents,
        ),
        date_col=None,
    )

    def recompute():
        return (
            _cents(cat.table("txns"))
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.coalesce(F.col("cents"), F.lit(0))).alias("total_cents"),
                # mart column order: minmax rides the main aggregate,
                # distinct counts join in last (same on both paths)
                F.min("cents").alias("min_cents"),
                F.max("cents").alias("max_cents"),
                F.countDistinct("note").cast("long").alias("n_notes"),
            )
        )

    assert runner.run([m], RUN_DATE)[0].action == "full"
    assert _rows_of(cat.table(m.name)) == _rows_of(recompute())
    cat.write_append(
        "txns", spark.createDataFrame([(4, "open", 9.0, "c")], DDL), None
    )
    cat.delete_by_keys("txns", "status", ["paid"])  # empties 'paid'
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    got = _rows_of(cat.table(m.name))
    assert got == _rows_of(recompute())
    assert len(got) == 1 and got[0][0] == "open"


def test_vacuumed_refresh_anchor_falls_back_to_rebuild(spark, tmp_path):
    """CDF retention lapse: when the mart's recorded refresh version has
    been vacuumed from the source's log, the next run rebuilds from the
    tip (Delta's readChangeFeed-after-vacuum behavior) instead of
    failing on a missing change span."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(spark, cat, [(1, "open", 1.0, "a")])
    m = _mart()
    assert runner.run([m], RUN_DATE)[0].action == "full"  # state at v0
    cat.write_append(
        "txns", spark.createDataFrame([(2, "paid", 2.0, "b")], DDL), None
    )  # v1
    cat.write_append(
        "txns", spark.createDataFrame([(3, "open", 3.0, "c")], DDL), None
    )  # v2
    cat.vacuum_versions("txns", keep_last=1)  # drops v0 (the anchor) + v1
    res = runner.run([m], RUN_DATE)
    assert res[0].action == "full"
    assert _rows_of(cat.table(m.name)) == _rows_of(_recompute(spark, cat))


def test_stream_ivm_maintains_continuously(spark, tmp_path):
    """Runner.stream_ivm: the CDF stream triggers per-micro-batch
    incremental refreshes — after an availableNow pass over a mutated
    history (append + delete + typed upsert across all three IVM
    classes), the mart equals the from-scratch recompute, the refreshes
    were 'ivm' (never a rebuild), and a second pass with no new commits
    is a pure no-op."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [(1, "open", 1.0, "a"), (2, "open", 2.0, "b"), (3, "paid", 3.0, "a")],
    )
    m = Model(
        name="status_live",
        ivm=IvmSpec(
            source="txns",
            group_by=["status"],
            measures={"total_cents": "cents"},
            distinct_counts={"n_notes": "note"},
            minmax={"cents": ("min_cents", "max_cents")},
            row_transform=_cents,
        ),
        date_col=None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "full"  # built at v0
    cat.write_append(
        "txns", spark.createDataFrame([(4, "late", 4.0, "c")], DDL), None
    )
    cat.delete_by_keys("txns", "k", ["2"])  # hits open's max
    cat.upsert_by_key(
        "txns", spark.createDataFrame([(3, "paid", 9.0, "z")], DDL), ["k"], None
    )
    results = []
    q = runner.stream_ivm(m, available_now=True, results=results)
    assert q.awaitTermination(180)
    assert all(r.action in ("ivm", "noop") for r in results)
    assert any(r.action == "ivm" for r in results)

    def recompute():
        return (
            _cents(cat.table("txns"))
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.coalesce(F.col("cents"), F.lit(0))).alias("total_cents"),
                F.min("cents").alias("min_cents"),
                F.max("cents").alias("max_cents"),
                F.countDistinct("note").cast("long").alias("n_notes"),
            )
        )

    assert _rows_of(cat.table(m.name)) == _rows_of(recompute())
    # no new commits: a second pass must be all no-ops
    results2 = []
    q2 = runner.stream_ivm(m, available_now=True, results=results2)
    assert q2.awaitTermination(180)
    assert all(r.action == "noop" for r in results2)
    assert _rows_of(cat.table(m.name)) == _rows_of(recompute())


def test_derived_measures_recompute_per_refresh(spark, tmp_path):
    """Algebraic measures (AVG = sum/count, a min-max spread) declared
    as derived SQL expressions over the maintained columns track the
    from-scratch recompute through maintenance, with later expressions
    referencing earlier ones."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [(1, "open", 1.0, "a"), (2, "open", 3.0, "b"), (3, "paid", 5.0, "c")],
    )
    m = Model(
        name="status_avg",
        ivm=IvmSpec(
            source="txns",
            group_by=["status"],
            measures={"total_cents": "cents"},
            minmax={"cents": ("min_cents", "max_cents")},
            derived={
                "avg_cents": "total_cents / n_rows",
                "spread_ratio": "(max_cents - min_cents) / avg_cents",
            },
            row_transform=_cents,
        ),
        date_col=None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "full"
    cat.write_append(
        "txns", spark.createDataFrame([(4, "open", 8.0, "d")], DDL), None
    )
    cat.delete_by_keys("txns", "k", ["1"])  # removes open's min
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    want = (
        _cents(cat.table("txns"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.col("cents"), F.lit(0))).alias("total_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .withColumn("avg_cents", F.expr("total_cents / n_rows"))
        .withColumn("spread_ratio", F.expr("(max_cents - min_cents) / avg_cents"))
    )
    assert _rows_of(cat.table(m.name)) == _rows_of(want)


def test_kin_daily_mart_ivm_twin_equals_builder(spark, sf_dir, tmp_path):
    """A REAL kin rollup (daily_kin_transactions) materialized both ways:
    the builder's full aggregation vs an IVM twin maintained through a
    two-commit fact history. Every distributive/algebraic column — the
    per-(date, app) totals, fee sum, per-type counts/amounts/averages —
    is identical at the tip; only the 3 median columns stay
    builder-only (holistic, not incrementally maintainable — the
    documented IVM boundary)."""
    from kin_data_pipeline_spark.models.kin import (
        _daily_kin_transactions,
        fact_kin_transaction,
    )

    fact = fact_kin_transaction(spark, sf_dir)
    cut = fact.selectExpr("percentile_approx(date_key, 0.5) p").collect()[0][
        "p"
    ]
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full("fact_txn", fact.filter(F.col("date_key") <= cut), None)
    cat.enable_versioning("fact_txn")  # v0: the first half of history

    def shape(df):
        out = df
        for t, p in ((1, "earn"), (2, "spend"), (3, "peer")):
            out = out.withColumn(
                f"{p}_ind",
                F.when(F.col("txn_type") == t, F.lit(1)).otherwise(0).cast("long"),
            ).withColumn(
                f"{p}_quark",
                F.when(F.col("txn_type") == t, F.col("amount_quark")).otherwise(
                    F.lit(0)
                ),
            )
        return out

    def seg_derived(p):
        return {
            f"daily_{p}_amounts": f"cast({p}_quark_sum as double) / 100000.0",
            f"daily_{p}_average": (
                f"case when daily_{p}_transactions = 0 then 0.0 else "
                f"cast({p}_quark_sum as double) / "
                f"cast(daily_{p}_transactions * 100000 as double) end"
            ),
        }

    m = Model(
        name="daily_txn_ivm",
        ivm=IvmSpec(
            source="fact_txn",
            group_by=["date_key", "app_id"],
            count_col="daily_total_transactions",
            measures={
                "total_quark_sum": "amount_quark",
                "daily_earn_transactions": "earn_ind",
                "earn_quark_sum": "earn_quark",
                "daily_spend_transactions": "spend_ind",
                "spend_quark_sum": "spend_quark",
                "daily_peer_transactions": "peer_ind",
                "peer_quark_sum": "peer_quark",
            },
            derived={
                "daily_fee_sum": (
                    "cast(daily_total_transactions as double) / 100000.0"
                ),
                "daily_total_amounts": (
                    "cast(total_quark_sum as double) / 100000.0"
                ),
                **seg_derived("earn"),
                **seg_derived("spend"),
                **seg_derived("peer"),
            },
            row_transform=shape,
        ),
        date_col=None,
    )
    runner = Runner(spark, cat)
    assert runner.run([m], RUN_DATE)[0].action == "full"  # built at v0
    # v1: the second half of the fact history arrives; the mart is
    # MAINTAINED through it, never rebuilt
    cat.write_append("fact_txn", fact.filter(F.col("date_key") > cut), None)
    assert runner.run([m], RUN_DATE)[0].action == "ivm"

    shared = [
        "date_key", "app_id", "daily_total_transactions", "daily_fee_sum",
        "daily_total_amounts",
        "daily_earn_transactions", "daily_earn_amounts", "daily_earn_average",
        "daily_spend_transactions", "daily_spend_amounts", "daily_spend_average",
        "daily_peer_transactions", "daily_peer_amounts", "daily_peer_average",
    ]
    want = _daily_kin_transactions(spark, sf_dir).select(*shared)
    got = cat.table("daily_txn_ivm").select(*shared)
    assert _rows_of(got) == _rows_of(want)


# --- join-shaped IVM: pre-aggregation dim enrichment (IvmSpec.dims) -------
# ΔF ⨝ broadcast D — the fact⨝dim mart shape (reference's dim_kin_app
# enrichment, daily_kin_transactions.sql:93-99). Static dim → O(changes)
# maintenance; a dim edit is an EXPLICIT full rebuild, never a silent
# divergence (VERDICT r9 ask #3).

DIM_DDL = "id bigint, label string"


def _dim_mart(**over) -> Model:
    from kin_data_pipeline_spark.plans.model import DimJoin

    kw = dict(
        name="status_by_label",
        ivm=IvmSpec(
            source="txns",
            # grouping by a DIM column is the point of the pre-agg join
            group_by=["status", "label"],
            measures={"total_cents": "cents"},
            count_col="n_rows",
            row_transform=_cents,
            dims=(DimJoin(table="dim_k", keys={"k": "id"}),),
            derived={"avg_cents": "cast(total_cents as double) / n_rows"},
        ),
        date_col=None,
    )
    kw.update(over)
    return Model(**kw)


def _recompute_dim(spark, cat: Catalog):
    from kin_data_pipeline_spark.operators.incremental import aggregate_base

    enriched = _cents(cat.table("txns")).join(
        F.broadcast(
            cat.table("dim_k").select(F.col("id").alias("k"), "label")
        ),
        ["k"],
        "left",
    )
    return aggregate_base(
        enriched, ["status", "label"], {"total_cents": "cents"}
    ).withColumn("avg_cents", F.expr("cast(total_cents as double) / n_rows"))


def test_dim_enriched_ivm_matches_rebuild_across_commits(spark, tmp_path):
    """A mart grouped by a dim-joined column maintains in O(changes)
    through appends, deletes, and upserts — equal to the from-scratch
    recompute after every commit; unmatched keys land in the NULL-label
    group (left join) and maintain correctly."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [
            (1, "open", 10.5, "a"),
            (2, "open", 2.25, "b"),
            (3, "paid", 7.0, "c"),
            (9, "paid", 4.0, "x"),  # key 9 absent from the dim → NULL label
        ],
    )
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "gold"), (2, "silver"), (3, "gold")], DIM_DDL
        ),
        None,
    )
    m = _dim_mart()
    assert runner.run([m], RUN_DATE)[0].action == "full"
    assert _rows_of(cat.table(m.name)) == _rows_of(_recompute_dim(spark, cat))

    cat.write_append(
        "txns",
        spark.createDataFrame([(2, "paid", 1.0, "d"), (11, "open", 3.0, "e")], DDL),
        None,
    )
    cat.delete_by_keys("txns", "k", [3])  # empties (paid, gold)
    cat.upsert_by_key(
        "txns",
        spark.createDataFrame([(1, "paid", 5.0, "a2")], DDL),
        ["k"],
        None,
    )
    res = runner.run([m], RUN_DATE)
    assert res[0].action == "ivm"  # maintained, never rebuilt
    got = _rows_of(cat.table(m.name))
    assert got == _rows_of(_recompute_dim(spark, cat))
    assert any(r[1] is None for r in got)  # the NULL-label group exists
    assert runner.run([m], RUN_DATE)[0].action == "noop"


def test_dim_change_forces_declared_rebuild(spark, tmp_path):
    """Editing the dim's rows (same shape) is detected by the content
    fingerprint in the recorded state: the next refresh is an explicit
    declared rebuild against the NEW dim ('ivm_dim' scoped since r10/r11;
    never a silent skip) — delta-join maintenance is exact only while D
    is static. Byte-identical dim rewrites do NOT trigger a rebuild
    (content fingerprint, not mtimes)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(spark, cat, [(1, "open", 10.5, "a"), (2, "paid", 2.0, "b")])
    dim_rows = [(1, "gold"), (2, "silver")]
    cat.write_full("dim_k", spark.createDataFrame(dim_rows, DIM_DDL), None)
    m = _dim_mart()
    runner.run([m], RUN_DATE)

    # byte-identical rewrite (new files, new mtimes, same content) + a
    # source commit: still the INCREMENTAL path
    cat.write_full("dim_k", spark.createDataFrame(dim_rows, DIM_DDL), None)
    cat.write_append(
        "txns", spark.createDataFrame([(5, "open", 1.0, "e")], DDL), None
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"

    # content edit: relabel key 1 → rebuild, and the mart reflects it
    cat.write_full(
        "dim_k",
        spark.createDataFrame([(1, "bronze"), (2, "silver")], DIM_DDL),
        None,
    )
    res = runner.run([m], RUN_DATE)
    assert res[0].action == "ivm_dim"  # scoped declared rebuild
    got = _rows_of(cat.table(m.name))
    assert got == _rows_of(_recompute_dim(spark, cat))
    labels = {r[1] for r in got}
    assert "bronze" in labels and "gold" not in labels


def test_dim_spec_edit_forces_rebuild_and_inner_join_drops(spark, tmp_path):
    """Changing the DimJoin declaration itself (left → inner) invalidates
    the recorded signature → rebuild; the inner form drops unmatched
    fact rows on both the rebuild and later maintained refreshes."""
    from kin_data_pipeline_spark.plans.model import DimJoin

    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [(1, "open", 10.5, "a"), (9, "open", 4.0, "x")],  # 9 unmatched
    )
    cat.write_full(
        "dim_k", spark.createDataFrame([(1, "gold")], DIM_DDL), None
    )
    runner.run([_dim_mart()], RUN_DATE)
    assert any(
        r[1] is None for r in _rows_of(cat.table("status_by_label"))
    )

    inner = _dim_mart(
        ivm=IvmSpec(
            source="txns",
            group_by=["status", "label"],
            measures={"total_cents": "cents"},
            count_col="n_rows",
            row_transform=_cents,
            dims=(DimJoin(table="dim_k", keys={"k": "id"}, how="inner"),),
            derived={"avg_cents": "cast(total_cents as double) / n_rows"},
        )
    )
    assert runner.run([inner], RUN_DATE)[0].action == "full"
    rows = _rows_of(cat.table("status_by_label"))
    assert all(r[1] is not None for r in rows)
    cat.write_append(
        "txns",
        spark.createDataFrame([(1, "open", 1.0, "f"), (12, "open", 9.0, "g")], DDL),
        None,
    )
    assert runner.run([inner], RUN_DATE)[0].action == "ivm"
    rows = _rows_of(cat.table("status_by_label"))
    assert rows == _rows_of(
        _cents(cat.table("txns"))
        .join(
            F.broadcast(
                cat.table("dim_k").select(F.col("id").alias("k"), "label")
            ),
            ["k"],
            "inner",
        )
        .groupBy("status", "label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce("cents", F.lit(0))).alias("total_cents"),
        )
        .withColumn("avg_cents", F.expr("cast(total_cents as double) / n_rows"))
    )


def test_dim_join_with_distinct_counts_rides_support_tables(spark, tmp_path):
    """COUNT(DISTINCT) over a dim-enriched grouping: the support tables
    are built over ENRICHED rows and rebuild with the mart on a dim
    change (the dim fingerprint rides the support signature too)."""
    from kin_data_pipeline_spark.plans.model import DimJoin

    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [
            (1, "open", 1.0, "a"),
            (2, "open", 1.0, "a"),
            (3, "open", 1.0, "b"),
            (4, "paid", 1.0, "a"),
        ],
    )
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "gold"), (2, "gold"), (3, "silver"), (4, "gold")], DIM_DDL
        ),
        None,
    )
    m = Model(
        name="notes_by_label",
        ivm=IvmSpec(
            source="txns",
            group_by=["label"],
            distinct_counts={"distinct_notes": "note"},
            count_col="n_rows",
            dims=(DimJoin(table="dim_k", keys={"k": "id"}),),
        ),
        date_col=None,
    )
    runner.run([m], RUN_DATE)
    want = (
        cat.table("txns")
        .join(
            F.broadcast(
                cat.table("dim_k").select(F.col("id").alias("k"), "label")
            ),
            ["k"],
            "left",
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("note").alias("distinct_notes"),
        )
    )
    assert _rows_of(cat.table(m.name)) == _rows_of(want)
    # incremental: a delete collapses gold's 'a' multiplicity but not
    # the distinct count; a fresh note appears under silver
    cat.delete_by_keys("txns", "k", [2])
    cat.write_append(
        "txns", spark.createDataFrame([(3, "open", 1.0, "z")], DDL), None
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    want2 = (
        cat.table("txns")
        .join(
            F.broadcast(
                cat.table("dim_k").select(F.col("id").alias("k"), "label")
            ),
            ["k"],
            "left",
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("note").alias("distinct_notes"),
        )
    )
    assert _rows_of(cat.table(m.name)) == _rows_of(want2)


def test_ivm_output_shadowing_group_key_rejected():
    """An IVM output column named like a grouping key is a declaration
    error (it would silently overwrite the mart's keys at refresh)."""
    with pytest.raises(ValueError, match="shadow grouping keys"):
        Model(
            name="bad",
            ivm=IvmSpec(
                source="txns",
                group_by=["status"],
                measures={"status": "amount"},
            ),
            date_col=None,
        )
    with pytest.raises(ValueError, match="shadow grouping keys"):
        Model(
            name="bad2",
            ivm=IvmSpec(
                source="txns",
                group_by=["status"],
                derived={"status": "n_rows * 2"},
            ),
            date_col=None,
        )


def test_row_local_gate_rejects_grouped_and_batch_python(spark, tmp_path):
    """The soundness gate is an ALLOWLIST: grouped-map Pandas
    (FlatMapGroupsInPandas), per-batch Python (MapInPandas — can
    aggregate or drop rows across a batch), and Expand (cube/rollup)
    are all rejected even though the old denylist never named them."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    _seed(spark, cat, [(1, "open", 1.0, "a")])

    def grouped(df):
        return df.groupBy("status").applyInPandas(
            lambda pdf: pdf, schema=df.schema
        )

    def batchy(df):
        return df.mapInPandas(lambda it: it, schema=df.schema)

    def expand(df):
        return df.cube("status").count()

    for bad, node in ((grouped, "FlatMapGroupsInPandas"),
                      (batchy, "MapInPandas"),
                      (expand, "Aggregate|Expand")):
        m = _mart(ivm=IvmSpec(source="txns", group_by=["status"],
                              measures={}, row_transform=bad))
        with pytest.raises(PlanGuardError, match=node):
            Runner(spark, cat).run([m], RUN_DATE)
    assert not cat.exists("status_rollup")


def test_ivm_status_introspection(spark, tmp_path):
    """Catalog.ivm_status: recorded version / tip / lag, support-table
    sizes, dim declarations, and the vacuum-lapse flag — the operator
    surface for deciding whether a maintained mart is current."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(spark, cat, [(1, "open", 1.0, "a"), (2, "paid", 2.0, "b")])

    m = Model(
        name="status_rollup",
        ivm=IvmSpec(
            source="txns",
            group_by=["status"],
            measures={"total": "amount"},
            distinct_counts={"n_notes": "note"},
        ),
        date_col=None,
    )
    assert cat.ivm_status("status_rollup") == {
        "name": "status_rollup",
        "maintained": False,
    }
    runner.run([m], RUN_DATE)
    st = cat.ivm_status("status_rollup")
    assert st["maintained"] and st["source"] == "txns"
    assert st["version"] == st["tip"] == 0 and st["lag"] == 0
    assert not st["vacuum_lapsed"]
    sup = st["supports"]["n_notes"]
    assert sup["table"] == "status_rollup__support_n_notes"
    assert sup["files"] >= 1 and sup["bytes"] > 0 and sup["version"] == 0

    # two commits the mart hasn't folded in yet -> lag 2
    cat.write_append(
        "txns", spark.createDataFrame([(3, "open", 3.0, "c")], DDL), None
    )
    cat.write_append(
        "txns", spark.createDataFrame([(4, "open", 4.0, "d")], DDL), None
    )
    st = cat.ivm_status("status_rollup")
    assert (st["version"], st["tip"], st["lag"]) == (0, 2, 2)
    runner.run([m], RUN_DATE)
    st = cat.ivm_status("status_rollup")
    assert st["lag"] == 0 and st["version"] == 2

    # vacuum past the recorded version -> lapse flagged (next refresh
    # will rebuild from the tip, which the engine already handles)
    cat.write_append(
        "txns", spark.createDataFrame([(5, "open", 5.0, "e")], DDL), None
    )
    cat.vacuum_versions("txns", keep_last=1)
    st = cat.ivm_status("status_rollup")
    assert st["vacuum_lapsed"] and st["lag"] == 1

    # out-of-band write invalidates -> back to unmaintained
    cat.write_full(
        "status_rollup",
        spark.createDataFrame([("open", 1, 1.0, 1)],
                              "status string, n_rows long, total double, n_notes long"),
        None,
    )
    assert cat.ivm_status("status_rollup")["maintained"] is False


# --- multi-source (union-leg) IVM: IvmSpec.sources -------------------------
# The reference's U1/U2 observation-union shapes (closing/average balance
# marts unioning from/to/created streams): the mart is a rollup over
# UNION ALL of per-source row-local projections, each leg anchored and
# folded independently (VERDICT r9 ask #7b).

IN_DDL = "k bigint, status string, amount double, note string"
OUT_DDL = "k bigint, status string, out_amount double, tag string"


def _in_leg(df):
    return df.withColumn(
        "cents", (F.col("amount").cast("decimal(18,2)") * 100).cast("long")
    ).withColumn("flow", F.lit("in"))


def _out_leg(df):
    return (
        df.withColumn(
            "cents",
            (F.col("out_amount").cast("decimal(18,2)") * -100).cast("long"),
        )
        .withColumn("note", F.col("tag"))
        .withColumn("amount", F.col("out_amount"))
        .withColumn("flow", F.lit("out"))
        .drop("out_amount", "tag")
    )


def _union_mart(**over) -> Model:
    kw = dict(
        name="flow_rollup",
        ivm=IvmSpec(
            sources={"inflows": _in_leg, "outflows": _out_leg},
            group_by=["status"],
            measures={"net_cents": "cents"},
            count_col="n_rows",
            distinct_counts={"n_notes": "note"},
        ),
        date_col=None,
    )
    kw.update(over)
    return Model(**kw)


def _union_recompute(spark, cat: Catalog):
    u = _in_leg(cat.table("inflows")).unionByName(
        _out_leg(cat.table("outflows")).select(
            *_in_leg(cat.table("inflows")).columns
        )
    )
    return u.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.coalesce("cents", F.lit(0))).alias("net_cents"),
        F.countDistinct("note").alias("n_notes"),
    )


def _seed_union(spark, cat: Catalog):
    cat.write_full(
        "inflows",
        spark.createDataFrame(
            [(1, "open", 10.0, "a"), (2, "paid", 4.0, "b")], IN_DDL
        ),
        None,
    )
    cat.enable_versioning("inflows")
    cat.write_full(
        "outflows",
        spark.createDataFrame(
            [(7, "open", 3.0, "x"), (8, "late", 1.0, "y")], OUT_DDL
        ),
        None,
    )
    cat.enable_versioning("outflows")


def test_union_mart_maintains_per_source_spans(spark, tmp_path):
    """A two-source union mart: each leg's commits fold independently —
    a refresh after commits on only ONE source maintains (action 'ivm'),
    the lagging leg is never replayed, and the result equals the
    from-scratch recompute after every refresh; all-legs-at-tip no-ops."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed_union(spark, cat)
    m = _union_mart()
    assert runner.run([m], RUN_DATE)[0].action == "full"
    assert _rows_of(cat.table(m.name)) == _rows_of(_union_recompute(spark, cat))
    st = cat.ivm_status(m.name)
    assert st["source"].startswith("union:")
    assert st["sources"]["inflows"]["lag"] == 0
    assert st["sources"]["outflows"]["lag"] == 0

    # commits on ONE leg only
    cat.write_append(
        "inflows",
        spark.createDataFrame([(3, "open", 2.0, "c")], IN_DDL),
        None,
    )
    cat.delete_by_keys("inflows", "k", [2])  # empties 'paid' inflow
    st = cat.ivm_status(m.name)
    assert st["sources"]["inflows"]["lag"] == 2
    assert st["sources"]["outflows"]["lag"] == 0
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    assert _rows_of(cat.table(m.name)) == _rows_of(_union_recompute(spark, cat))

    # now both legs move
    cat.write_append(
        "outflows",
        spark.createDataFrame([(9, "open", 5.0, "z")], OUT_DDL),
        None,
    )
    cat.write_append(
        "inflows",
        spark.createDataFrame([(4, "late", 7.0, "d")], IN_DDL),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    assert _rows_of(cat.table(m.name)) == _rows_of(_union_recompute(spark, cat))
    # unchanged tips → recorded no-op
    assert runner.run([m], RUN_DATE)[0].action == "noop"


def test_union_mart_vacuum_lapse_on_one_leg_rebuilds(spark, tmp_path):
    """Vacuuming past ONE leg's recorded anchor degrades that refresh to
    a declared full rebuild (never a wrong span), after which
    maintenance resumes."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed_union(spark, cat)
    m = _union_mart()
    runner.run([m], RUN_DATE)
    for i in range(3):
        cat.write_append(
            "outflows",
            spark.createDataFrame([(20 + i, "open", 1.0, f"t{i}")], OUT_DDL),
            None,
        )
    cat.vacuum_versions("outflows", keep_last=1)
    assert cat.ivm_status(m.name)["vacuum_lapsed"]
    assert runner.run([m], RUN_DATE)[0].action == "full"
    assert _rows_of(cat.table(m.name)) == _rows_of(_union_recompute(spark, cat))
    cat.write_append(
        "inflows",
        spark.createDataFrame([(5, "open", 1.0, "e")], IN_DDL),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    assert _rows_of(cat.table(m.name)) == _rows_of(_union_recompute(spark, cat))


def test_union_mart_declaration_contracts(spark, tmp_path):
    """Declaration errors: source+sources together, row_transform with
    sources, schema-diverging legs."""
    with pytest.raises(ValueError, match="exactly one of source"):
        Model(name="bad", date_col=None,
              ivm=IvmSpec(source="a", sources={"b": None},
                          group_by=["status"]))
    with pytest.raises(ValueError, match="exactly one of source"):
        Model(name="bad", date_col=None, ivm=IvmSpec(group_by=["status"]))
    with pytest.raises(ValueError, match="row_transform must be"):
        Model(name="bad", date_col=None,
              ivm=IvmSpec(sources={"b": None}, group_by=["status"],
                          row_transform=lambda df: df))
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed_union(spark, cat)
    # a leg that fails to project the common schema raises loudly
    # (unionByName), never pairs columns positionally
    broken = _union_mart(
        ivm=IvmSpec(
            sources={"inflows": _in_leg, "outflows": None},
            group_by=["status"],
            measures={"net_cents": "cents"},
        )
    )
    with pytest.raises(Exception):
        runner.run([broken], RUN_DATE)


def test_stream_ivm_maintains_union_mart_per_leg(spark, tmp_path):
    """r10 VERDICT ask #2: stream_ivm on a UNION mart starts one
    commit-signal listener per leg. Commits on only ONE leg trigger a
    maintained refresh (never a rebuild) with the other leg's anchor
    untouched; commits on both legs are folded; replaying with no new
    commits is a pure no-op; the mart equals the from-scratch recompute
    after every pass."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed_union(spark, cat)
    m = _union_mart()
    assert runner.run([m], RUN_DATE)[0].action == "full"

    # commits on ONE leg only (append + delete), then drain both signal
    # streams: the inflow commits trigger 'ivm' refreshes, outflows stay
    # anchored and are never replayed
    cat.write_append(
        "inflows",
        spark.createDataFrame([(3, "open", 2.0, "c")], IN_DDL),
        None,
    )
    cat.delete_by_keys("inflows", "k", [2])
    results = []
    qs = runner.stream_ivm(m, available_now=True, results=results)
    assert isinstance(qs, list) and len(qs) == 2
    for q in qs:
        assert q.awaitTermination(180)
    assert all(r.action in ("ivm", "noop") for r in results), results
    assert any(r.action == "ivm" for r in results)
    assert _rows_of(cat.table(m.name)) == _rows_of(_union_recompute(spark, cat))
    st = cat.ivm_status(m.name)
    assert st["sources"]["inflows"]["lag"] == 0
    assert st["sources"]["outflows"]["lag"] == 0

    # both legs move, one streamed pass folds both spans
    cat.write_append(
        "outflows",
        spark.createDataFrame([(9, "open", 5.0, "z")], OUT_DDL),
        None,
    )
    cat.write_append(
        "inflows",
        spark.createDataFrame([(4, "late", 7.0, "d")], IN_DDL),
        None,
    )
    results2 = []
    qs2 = runner.stream_ivm(m, available_now=True, results=results2)
    for q in qs2:
        assert q.awaitTermination(180)
    assert all(r.action in ("ivm", "noop") for r in results2), results2
    assert _rows_of(cat.table(m.name)) == _rows_of(_union_recompute(spark, cat))

    # no new commits: replay is a pure no-op on every leg
    results3 = []
    qs3 = runner.stream_ivm(m, available_now=True, results=results3)
    for q in qs3:
        assert q.awaitTermination(180)
    assert all(r.action == "noop" for r in results3), results3
    assert _rows_of(cat.table(m.name)) == _rows_of(_union_recompute(spark, cat))


# --- maintained holistic quantiles (IvmSpec.quantiles) ---------------------
# The documented alternative to the exact-median builder boundary
# (VERDICT r9 ask #7c): percentile_disc per group rides the SAME
# turnstile (group, value) → multiplicity support tables as exact
# COUNT(DISTINCT) — maintainable under inserts AND deletes, which
# one-way mergeable sketches (t-digest/KLL) cannot be (no subtract).


def _disc(spark, cat, q, value_expr="cents"):
    """percentile_disc recomputed from scratch over the live source."""
    rows = (
        _cents(cat.table("txns"))
        .selectExpr("status", f"{value_expr} AS v")
        .filter("v IS NOT NULL")
        .collect()
    )
    by = {}
    for r in rows:
        by.setdefault(r.status, []).append(r.v)
    import math

    out = {}
    for k, vs in by.items():
        vs.sort()
        out[k] = vs[max(0, math.ceil(q * len(vs)) - 1)]
    return out


def test_maintained_quantiles_exact_across_commits(spark, tmp_path):
    """Maintained median + p90 equal the from-scratch percentile_disc
    after appends, deletes (including one emptying a group), and an
    upsert — and the supports show up in ivm_status."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [
            (1, "open", 10.5, "a"),
            (2, "open", 2.25, "b"),
            (3, "open", 7.0, "c"),
            (4, "paid", 5.0, "d"),
            (5, "late", 1.0, "e"),
        ],
    )
    m = Model(
        name="status_quants",
        ivm=IvmSpec(
            source="txns",
            group_by=["status"],
            measures={"total_cents": "cents"},
            quantiles={
                "median_cents": ("cents", 0.5),
                "p90_cents": ("cents", 0.9),
            },
            row_transform=_cents,
        ),
        date_col=None,
    )
    runner.run([m], RUN_DATE)

    def check():
        got = {
            r.status: (r.median_cents, r.p90_cents)
            for r in cat.table("status_quants").collect()
        }
        med, p90 = _disc(spark, cat, 0.5), _disc(spark, cat, 0.9)
        assert got == {k: (med[k], p90[k]) for k in med}

    check()
    cat.write_append(
        "txns",
        spark.createDataFrame(
            [(6, "open", 3.0, "f"), (7, "paid", 9.0, "g")], DDL
        ),
        None,
    )
    cat.delete_by_keys("txns", "status", ["late"])  # empties the group
    cat.upsert_by_key(
        "txns",
        spark.createDataFrame([(1, "open", 0.5, "a2")], DDL),
        ["k"],
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    check()
    assert not any(
        r.status == "late" for r in cat.table("status_quants").collect()
    )
    st = cat.ivm_status("status_quants")
    assert set(st["supports"]) == {"median_cents", "p90_cents"}
    assert runner.run([m], RUN_DATE)[0].action == "noop"


def test_quantized_quantile_error_bound(spark, tmp_path):
    """The APPROXIMATE form: quantizing the value in the row_transform
    (bin width W) bounds support cardinality by the domain/W and the
    maintained quantile's error by W — pinned against the exact
    percentile_disc across a maintained refresh."""
    import math

    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    W = 100  # cents per bin

    def binned(df):
        return _cents(df).withColumn(
            "cents_bin",
            (F.floor(F.col("cents") / W) * W).cast("long"),
        )

    rows = [
        (i, "open" if i % 3 else "paid", float(i) * 0.37 + 1, f"n{i}")
        for i in range(1, 121)
    ]
    _seed(spark, cat, rows[:80])
    m = Model(
        name="binned_quants",
        ivm=IvmSpec(
            source="txns",
            group_by=["status"],
            quantiles={"median_bin": ("cents_bin", 0.5)},
            row_transform=binned,
        ),
        date_col=None,
    )
    runner.run([m], RUN_DATE)
    cat.write_append("txns", spark.createDataFrame(rows[80:], DDL), None)
    cat.delete_by_keys("txns", "k", [7, 13, 99])
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    exact = _disc(spark, cat, 0.5)  # exact median of the raw cents
    got = {
        r.status: r.median_bin for r in cat.table("binned_quants").collect()
    }
    for k, v in exact.items():
        assert abs(got[k] - v) <= W, (k, got[k], v)
    # support cardinality is bin-bounded, not row-bounded
    sup = cat.table("binned_quants__support_median_bin")
    n_rows_src = cat.table("txns").count()
    assert sup.count() < n_rows_src


# --- dim-delta SCOPED refresh (round-10 extension of IvmSpec.dims) ---------
# When every dim's fact-side join keys sit in the mart grain, a dim edit
# no longer rebuilds the whole mart: unaffected groups survive verbatim,
# only the changed keys' groups recompute from base ⋉ changed-keys under
# the new dim (action 'ivm_dim') — O(affected base rows + changes + agg)
# instead of a full base scan per dim edit.

DIMD_DIM = [(1, "gold"), (2, "silver"), (3, "bronze")]


def _dimd_mart(**over) -> Model:
    from kin_data_pipeline_spark.plans.model import DimJoin

    kw = dict(
        name="keyed_rollup",
        ivm=IvmSpec(
            source="txns",
            group_by=["status", "k", "label"],
            count_col="n_rows",
            measures={"total_cents": "cents"},
            distinct_counts={"n_notes": "note"},
            quantiles={"med_cents": ("cents", 0.5)},
            minmax={"cents": ("min_cents", "max_cents")},
            derived={"avg_cents": "cast(total_cents as double) / n_rows"},
            row_transform=_cents,
            dims=(DimJoin(table="dim_k", keys={"k": "id"},
                          select={"label": "label_src"}),),
        ),
        date_col=None,
    )
    kw.update(over)
    return Model(**kw)


def _dimd_seed(spark, cat):
    _seed(
        spark,
        cat,
        [
            (1, "open", 10.5, "a"),
            (1, "open", 2.0, "b"),
            (2, "open", 7.0, "c"),
            (2, "paid", 5.5, "d"),
            (3, "paid", 1.0, "e"),
        ],
    )
    cat.write_full(
        "dim_k",
        spark.createDataFrame(DIMD_DIM, "id bigint, label_src string"),
        None,
    )


def _dimd_recompute(spark, cat):
    d = cat.table("dim_k").select(
        F.col("id").alias("k"), F.col("label_src").alias("label")
    )
    return (
        _cents(cat.table("txns"))
        .join(F.broadcast(d), ["k"], "left")
        .groupBy("status", "k", "label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce("cents", F.lit(0))).alias("total_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.countDistinct("note").alias("n_notes"),
            F.expr(
                "percentile_disc(0.5) within group (order by cents)"
            ).alias("med_cents"),
        )
        .withColumn("avg_cents", F.expr("cast(total_cents as double) / n_rows"))
    )


def _dimd_rows(cat, df=None):
    t = cat.table("keyed_rollup") if df is None else df
    cols = sorted(cat.table("keyed_rollup").columns)
    return sorted(tuple(r) for r in t.select(*cols).collect())


def test_dim_delta_scoped_refresh_all_classes(spark, tmp_path):
    """A dim relabel of ONE key refreshes as action 'ivm_dim' and lands
    exactly on the from-scratch recompute across every maintained class
    (count/sum/minmax/distinct/quantile/derived) — alone, combined with
    fact commits in the same refresh, and back to plain 'ivm'/'noop'
    afterwards."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _dimd_seed(spark, cat)
    m = _dimd_mart()
    assert runner.run([m], RUN_DATE)[0].action == "full"

    # dim edit only
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+"), (2, "silver"), (3, "bronze")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm_dim"
    assert _dimd_rows(cat) == _dimd_rows(cat, _dimd_recompute(spark, cat))

    # combined: fact append (both affected + unaffected keys), a delete,
    # and another dim edit folded by ONE refresh
    cat.write_append(
        "txns",
        spark.createDataFrame(
            [(1, "open", 100.0, "f"), (3, "paid", 9.0, "g")], DDL
        ),
        None,
    )
    cat.delete_by_keys("txns", "note", ["c"])  # key 2: unaffected by dim
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+"), (2, "silver"), (3, "BRONZE+")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm_dim"
    assert _dimd_rows(cat) == _dimd_rows(cat, _dimd_recompute(spark, cat))

    # steady state and ordinary fact-only maintenance afterwards
    assert runner.run([m], RUN_DATE)[0].action == "noop"
    cat.write_append(
        "txns", spark.createDataFrame([(2, "open", 4.0, "h")], DDL), None
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    assert _dimd_rows(cat) == _dimd_rows(cat, _dimd_recompute(spark, cat))


def test_dim_delta_never_recomputes_unaffected_groups(spark, tmp_path):
    """THE scoping pin: a sentinel written RAW into an unaffected group's
    stored mart row (bypassing the catalog, so the IVM state survives)
    is still there after a dim-edit refresh — the scoped path carried the
    row verbatim instead of recomputing it — while the affected key's
    groups land on the recompute. A full_refresh then repairs the
    sentinel."""
    import glob as _glob

    import pyarrow.parquet as _pq
    import pyarrow as _pa

    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _dimd_seed(spark, cat)
    m = _dimd_mart()
    runner.run([m], RUN_DATE)

    # poison total_cents of key 2's 'open' row, raw on disk
    target = None
    for fpath in _glob.glob(
        str(tmp_path / "wh" / "keyed_rollup" / "**" / "*.parquet"), recursive=True
    ):
        t = _pq.read_table(fpath)
        d = t.to_pydict()
        for i in range(t.num_rows):
            if d["k"][i] == 2 and d["status"][i] == "open":
                d["total_cents"][i] = 424242
                target = fpath
                break
        if target:
            _pq.write_table(
                _pa.table(d, schema=t.schema), fpath
            )
            # the raw rewrite invalidates Hadoop LocalFS's checksum
            # sidecar — remove it so the poisoned file reads back
            crc = os.path.join(
                os.path.dirname(fpath), "." + os.path.basename(fpath) + ".crc"
            )
            if os.path.exists(crc):
                os.remove(crc)
            break
    assert target is not None

    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+"), (2, "silver"), (3, "bronze")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm_dim"
    rows = {
        (r.k, r.status): r.total_cents
        for r in cat.table("keyed_rollup").collect()
    }
    assert rows[(2, "open")] == 424242  # unaffected: carried, not rebuilt
    want = {
        (r.k, r.status): r.total_cents
        for r in _dimd_recompute(spark, cat).collect()
    }
    assert rows[(1, "open")] == want[(1, "open")]  # affected: recomputed
    # full_refresh repairs the sentinel
    assert runner.run([m], RUN_DATE, "full_refresh")[0].action == "full"
    rows = {
        (r.k, r.status): r.total_cents
        for r in cat.table("keyed_rollup").collect()
    }
    assert rows == want


def _label_mart(**over) -> Model:
    """Grain-OMITS-key mart: group by the dim's label only (the join key
    'k' is not in the grain), every maintained class declared."""
    from kin_data_pipeline_spark.plans.model import DimJoin

    kw = dict(
        name="label_only",
        ivm=IvmSpec(
            source="txns",
            group_by=["label"],
            count_col="n_rows",
            measures={"total_cents": "cents"},
            distinct_counts={"n_notes": "note"},
            quantiles={"med_cents": ("cents", 0.5)},
            minmax={"cents": ("min_cents", "max_cents")},
            derived={"avg_cents": "cast(total_cents as double) / n_rows"},
            row_transform=_cents,
            dims=(DimJoin(table="dim_k", keys={"k": "id"},
                          select={"label": "label_src"}),),
        ),
        date_col=None,
    )
    kw.update(over)
    return Model(**kw)


def _label_recompute(spark, cat):
    d = cat.table("dim_k").select(
        F.col("id").alias("k"), F.col("label_src").alias("label")
    )
    return (
        _cents(cat.table("txns"))
        .join(F.broadcast(d), ["k"], "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce("cents", F.lit(0))).alias("total_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.countDistinct("note").alias("n_notes"),
            F.expr(
                "percentile_disc(0.5) within group (order by cents)"
            ).alias("med_cents"),
        )
        .withColumn("avg_cents", F.expr("cast(total_cents as double) / n_rows"))
    )


def _label_rows(cat, df=None):
    t = cat.table("label_only") if df is None else df
    cols = sorted(cat.table("label_only").columns)
    return sorted(
        (tuple(r) for r in t.select(*cols).collect()),
        key=lambda t_: tuple((v is None, str(v)) for v in t_),
    )


def test_dim_delta_scopes_grain_omits_key_mart(spark, tmp_path):
    """r10 VERDICT ask #5: a mart whose grain OMITS the join key (group
    by the dim's label only) now scopes a dim edit too — action
    'ivm_dim', every maintained class landing on the from-scratch
    recompute — alone, combined with fact commits (append + delete)
    folded by the same refresh, and back to 'ivm'/'noop' afterwards."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _dimd_seed(spark, cat)
    m = _label_mart()
    assert runner.run([m], RUN_DATE)[0].action == "full"

    # dim edit only: relabel key 1 (gold → GOLD+ moves its rows into a
    # fresh group; the old 'gold' group must disappear)
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+"), (2, "silver"), (3, "bronze")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm_dim"
    assert _label_rows(cat) == _label_rows(cat, _label_recompute(spark, cat))
    labels = {r.label for r in cat.table("label_only").collect()}
    assert "GOLD+" in labels and "gold" not in labels

    # combined: fact append (affected + unaffected labels), a delete of
    # a changed-key row (its OLD group must still shed it), and another
    # dim edit folded by ONE refresh
    cat.write_append(
        "txns",
        spark.createDataFrame(
            [(1, "open", 100.0, "f"), (2, "paid", 9.0, "g")], DDL
        ),
        None,
    )
    cat.delete_by_keys("txns", "note", ["e"])  # key 3's only row
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+", ), (2, "silver"), (3, "BRONZE+")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm_dim"
    assert _label_rows(cat) == _label_rows(cat, _label_recompute(spark, cat))

    # steady state and ordinary fact-only maintenance afterwards
    assert runner.run([m], RUN_DATE)[0].action == "noop"
    cat.write_append(
        "txns", spark.createDataFrame([(2, "open", 4.0, "h")], DDL), None
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    assert _label_rows(cat) == _label_rows(cat, _label_recompute(spark, cat))


def test_grain_omits_key_never_recomputes_unaffected_groups(spark, tmp_path):
    """The never-recompute sentinel extended to the grain-omits-key path
    (r10 VERDICT ask #5): a sentinel poisoned RAW into an unaffected
    label's stored mart row survives the dim-edit refresh verbatim,
    while the changed key's old and new label groups land on the
    recompute."""
    import glob as _glob

    import pyarrow.parquet as _pq
    import pyarrow as _pa

    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _dimd_seed(spark, cat)
    m = _label_mart()
    runner.run([m], RUN_DATE)

    # poison total_cents of the 'silver' (key 2) row, raw on disk
    target = None
    for fpath in _glob.glob(
        str(tmp_path / "wh" / "label_only" / "**" / "*.parquet"), recursive=True
    ):
        t = _pq.read_table(fpath)
        d = t.to_pydict()
        for i in range(t.num_rows):
            if d["label"][i] == "silver":
                d["total_cents"][i] = 424242
                target = fpath
                break
        if target:
            _pq.write_table(_pa.table(d, schema=t.schema), fpath)
            crc = os.path.join(
                os.path.dirname(fpath), "." + os.path.basename(fpath) + ".crc"
            )
            if os.path.exists(crc):
                os.remove(crc)
            break
    assert target is not None

    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+"), (2, "silver"), (3, "bronze")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm_dim"
    rows = {r.label: r.total_cents for r in cat.table("label_only").collect()}
    assert rows["silver"] == 424242  # unaffected: carried, not rebuilt
    want = {
        r.label: r.total_cents
        for r in _label_recompute(spark, cat).collect()
    }
    assert rows["GOLD+"] == want["GOLD+"]  # affected: recomputed
    assert "gold" not in rows
    # full_refresh repairs the sentinel
    assert runner.run([m], RUN_DATE, "full_refresh")[0].action == "full"
    rows = {r.label: r.total_cents for r in cat.table("label_only").collect()}
    assert rows == want


def test_dim_delta_stale_dimstate_degrades_to_rebuild(spark, tmp_path):
    """Fallback contract: a stale persisted dim projection (the crash
    window between mart write and dimstate write) fails its fingerprint
    check and degrades to the full rebuild — never a wrong key diff."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _dimd_seed(spark, cat)

    # scoped-eligible mart, but the persisted dim projection is made
    # stale out-of-band -> fingerprint mismatch -> full rebuild
    m = _dimd_mart()
    runner.run([m], RUN_DATE)
    cat.write_full(
        "keyed_rollup__dimstate_0",
        spark.createDataFrame(
            [(9, "nope")], "k bigint, label string"
        ),
        None,
    )
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "gold"), (2, "SILVER+"), (3, "bronze")],
            "id bigint, label_src string",
        ),
        None,
    )
    res = runner.run([m], RUN_DATE)
    assert res[0].action == "full"
    assert _dimd_rows(cat) == _dimd_rows(cat, _dimd_recompute(spark, cat))
    # and the refreshed dimstate makes the NEXT dim edit scoped again
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "gold"), (2, "SILVER+"), (3, "BRONZE+")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm_dim"
    assert _dimd_rows(cat) == _dimd_rows(cat, _dimd_recompute(spark, cat))


def test_ivm_status_reports_dim_drift(spark, tmp_path):
    """ivm_status recomputes each declared dim's content fingerprint:
    False right after a refresh, True once the dim is edited (the next
    refresh will be 'ivm_dim' / 'full'), back to False after it runs."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _dimd_seed(spark, cat)
    m = _dimd_mart()
    runner.run([m], RUN_DATE)
    assert cat.ivm_status("keyed_rollup")["dim_drift"] == [False]
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+"), (2, "silver"), (3, "bronze")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert cat.ivm_status("keyed_rollup")["dim_drift"] == [True]
    assert runner.run([m], RUN_DATE)[0].action == "ivm_dim"
    assert cat.ivm_status("keyed_rollup")["dim_drift"] == [False]


def test_dim_drift_sees_even_parity_multiplicity_swap(spark, tmp_path):
    """The fingerprint hashes DEDUPED (row, multiplicity) pairs, so a dim
    edit whose every changed row hash appears an even number of times —
    one duplicated pair swapped for another duplicated pair, invisible to
    a plain xor over raw rows — still moves the fingerprint: drift is
    reported and the next refresh is a declared rebuild, not a silent
    skip (r10 ADVICE)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [(1, "open", 10.5, "a"), (2, "open", 7.0, "c"), (2, "paid", 5.5, "d")],
    )
    dup_dim = [(1, "gold"), (1, "gold"), (2, "silver")]
    cat.write_full(
        "dim_k",
        spark.createDataFrame(dup_dim, "id bigint, label_src string"),
        None,
    )
    m = _dimd_mart()
    assert runner.run([m], RUN_DATE)[0].action == "full"
    assert cat.ivm_status("keyed_rollup")["dim_drift"] == [False]
    # swap the duplicated (1, gold) pair for a duplicated (1, GOLD+)
    # pair: same row count, every changed row hash occurs twice
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+"), (1, "GOLD+"), (2, "silver")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert cat.ivm_status("keyed_rollup")["dim_drift"] == [True]
    res = runner.run([m], RUN_DATE)[0]
    assert res.action in ("ivm_dim", "full")
    assert _dimd_rows(cat) == _dimd_rows(cat, _dimd_recompute(spark, cat))
    assert cat.ivm_status("keyed_rollup")["dim_drift"] == [False]


def test_run_concurrent_orders_ivm_inputs_without_explicit_deps(
    spark, tmp_path
):
    """Wave-parallel materialization sequences a maintained mart AFTER
    its implicit IVM inputs — the versioned source model, every union
    leg, and every enrichment dim — even when depends_on omits them
    (topo_sort carries the same implicit edges for Runner.run)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    from kin_data_pipeline_spark.plans.model import DimJoin, topo_sort

    def fact_builder(ctx):
        return ctx.spark.createDataFrame(
            [(1, "open", 1.0, "a"), (2, "paid", 2.0, "b")], DDL
        )

    def dim_builder(ctx):
        return ctx.spark.createDataFrame(
            [(1, "gold"), (2, "silver")], "id bigint, label_src string"
        )

    models = [
        # mart FIRST in the list, with NO explicit depends_on — ordering
        # must come from the implicit ivm edges alone
        Model(
            name="mart",
            ivm=IvmSpec(
                source="fact",
                group_by=["status", "label"],
                count_col="n_rows",
                row_transform=_cents,
                dims=(DimJoin(table="dim_k", keys={"k": "id"},
                              select={"label": "label_src"}),),
            ),
            date_col=None,
        ),
        Model("fact", fact_builder, date_col=None, versioned=True),
        Model("dim_k", dim_builder, date_col=None),
    ]
    order = [m.name for m in topo_sort(models)]
    assert order.index("mart") > order.index("fact")
    assert order.index("mart") > order.index("dim_k")
    res = runner.run_concurrent(models, RUN_DATE, max_workers=3)
    acts = {r.model: r.action for r in res}
    assert acts["mart"] == "full" and cat.exists("mart")
    # a union mart's legs are implicit edges too
    models2 = [
        Model(
            name="umart",
            ivm=IvmSpec(
                sources={"fact": _cents, "fact2": _cents},
                group_by=["status"],
                count_col="n_rows",
            ),
            date_col=None,
        ),
        Model("fact2", fact_builder, date_col=None, versioned=True),
    ]
    order2 = [m.name for m in topo_sort(models2 + models)]
    assert order2.index("umart") > order2.index("fact2")
    assert order2.index("umart") > order2.index("fact")
    res2 = runner.run_concurrent(models2 + models, RUN_DATE, max_workers=3)
    acts2 = {r.model: r.action for r in res2}
    assert acts2["umart"] == "full" and cat.exists("umart")


# --- approximate distinct (IvmSpec.approx_distinct, HLL) -------------------
# The declared alternative to the exact turnstile supports where
# exactness is waived (r10 VERDICT stretch 7b): state is a mart-resident
# binary sketch (~KB per group, constant where the exact support is
# value-cardinality-sized); inserts merge, removals re-sketch exactly
# the affected groups from the live base (HLL has no subtract).


def test_approx_distinct_tracks_exact_across_commits(spark, tmp_path):
    """The HLL estimate column rides beside an EXACT distinct count over
    the same source column through a full build, an insert-only span, a
    delete hitting a group, an upsert with typed images, and a group
    emptied entirely — at test cardinalities the sketch is in sparse
    (exact) mode, so the two columns must be EQUAL at every step and the
    actions must stay full → ivm (never a rebuild)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _seed(
        spark,
        cat,
        [(1, "open", 1.0, "a"), (2, "open", 2.0, "b"), (3, "paid", 3.0, "a")],
    )
    m = Model(
        name="status_approx",
        ivm=IvmSpec(
            source="txns",
            group_by=["status"],
            count_col="n_rows",
            distinct_counts={"n_notes": "note"},
            approx_distinct={"n_notes_approx": "note"},
            row_transform=_cents,
        ),
        date_col=None,
    )

    def check():
        rows = cat.table("status_approx").collect()
        assert rows, "mart is empty"
        for r in rows:
            assert r["n_notes_approx"] == r["n_notes"], (
                r["status"], r["n_notes_approx"], r["n_notes"],
            )
        assert "__hll_n_notes_approx" in cat.table("status_approx").columns

    assert runner.run([m], RUN_DATE)[0].action == "full"
    check()
    # insert-only span (merge path; the base-rebuild branch is
    # probe-elided — same contract as minmax)
    cat.write_append(
        "txns",
        spark.createDataFrame(
            [(4, "open", 4.0, "c"), (5, "late", 5.0, "d")], DDL
        ),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    check()
    # delete the LAST row carrying note 'b' in 'open' (estimate must
    # shrink: re-sketch of the affected group from the live base)
    cat.delete_by_keys("txns", "k", [2])
    # typed upsert: replace note of k=3 ('paid': a → z)
    cat.upsert_by_key(
        "txns",
        spark.createDataFrame([(3, "paid", 3.0, "z")], DDL),
        ["k"],
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    check()
    # empty the 'late' group entirely: its row must vanish
    cat.delete_by_keys("txns", "k", [5])
    assert runner.run([m], RUN_DATE)[0].action == "ivm"
    check()
    assert "late" not in {
        r.status for r in cat.table("status_approx").collect()
    }


def test_approx_distinct_composes_with_scoped_dim_refresh(spark, tmp_path):
    """approx_distinct under a dim-delta SCOPED refresh: unaffected
    groups carry their sketches verbatim, affected groups re-sketch via
    the fused recompute, and the estimate still equals the exact count
    afterwards (sparse-mode cardinalities)."""
    from kin_data_pipeline_spark.plans.model import DimJoin

    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _dimd_seed(spark, cat)
    m = Model(
        name="approx_by_label",
        ivm=IvmSpec(
            source="txns",
            group_by=["status", "k", "label"],
            count_col="n_rows",
            distinct_counts={"n_notes": "note"},
            approx_distinct={"n_notes_approx": "note"},
            row_transform=_cents,
            dims=(DimJoin(table="dim_k", keys={"k": "id"},
                          select={"label": "label_src"}),),
        ),
        date_col=None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "full"
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+"), (2, "silver"), (3, "bronze")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm_dim"
    for r in cat.table("approx_by_label").collect():
        assert r["n_notes_approx"] == r["n_notes"], r
    # and a combined dim edit + fact span in one refresh
    cat.write_append(
        "txns", spark.createDataFrame([(1, "open", 7.0, "q")], DDL), None
    )
    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+"), (2, "SILVER+"), (3, "bronze")],
            "id bigint, label_src string",
        ),
        None,
    )
    assert runner.run([m], RUN_DATE)[0].action == "ivm_dim"
    for r in cat.table("approx_by_label").collect():
        assert r["n_notes_approx"] == r["n_notes"], r


def test_hll_estimate_error_bound_at_dense_cardinality(spark):
    """Above sparse mode the sketch is approximate: pin the documented
    ~2% relative error (generous 5% assert) at 50k distinct values,
    through a maintained insert-merge — the accuracy contract of the
    declared approximate alternative."""
    from kin_data_pipeline_spark.operators.incremental import (
        hll_base,
        maintain_hll_distinct,
    )

    base0 = spark.range(0, 40_000).selectExpr(
        "CAST(1 AS INT) AS g", "CONCAT('v', id) AS v"
    )
    st = hll_base(base0, ["g"], "v")
    ch = spark.range(40_000, 50_000).selectExpr(
        "CAST(1 AS INT) AS g",
        "CONCAT('v', id) AS v",
        "'insert' AS _change_type",
    )
    live = base0.unionByName(ch.drop("_change_type"))
    out = maintain_hll_distinct(st, ch, live, ["g"], "v")
    est = out.selectExpr("hll_sketch_estimate(hll_sketch) AS e").collect()[0][
        "e"
    ]
    assert abs(est - 50_000) / 50_000 < 0.05, est


def test_plan_refresh_predicts_executed_actions(spark, tmp_path):
    """Runner.plan_refresh (dry-run, r10 VERDICT stretch 7c) answers
    "what will this refresh cost" without writing: across the lifecycle
    — first build, noop, fact span, dim edit (scoped), forced
    full_refresh — the planned action always equals the action run()
    then takes, spans carry per-leg lag + stored-change bytes, and
    builder/clone models report their watermark decision."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    _dimd_seed(spark, cat)
    m = _dimd_mart()

    def check(bt="incremental"):
        plan = runner.plan_refresh([m], RUN_DATE, bt)
        acts = runner.run([m], RUN_DATE, bt)
        assert [p["action"] for p in plan] == [r.action for r in acts], (
            plan, acts,
        )
        return plan[0]

    p = check()
    assert p["reason"] == "never refreshed"
    p = check()
    assert p["action"] == "noop" and p["spans"]["txns"]["lag"] == 0

    cat.write_append(
        "txns", spark.createDataFrame([(1, "open", 3.0, "x")], DDL), None
    )
    p = check()
    assert p["action"] == "ivm"
    assert p["spans"]["txns"]["lag"] == 1
    assert p["spans"]["txns"]["change_bytes"] > 0

    cat.write_full(
        "dim_k",
        spark.createDataFrame(
            [(1, "GOLD+"), (2, "silver"), (3, "bronze")],
            "id bigint, label_src string",
        ),
        None,
    )
    p = check()
    assert p["action"] == "ivm_dim" and p["changed_dims"] == ["dim_k"]

    p = check("full_refresh")
    assert p["action"] == "full" and "full_refresh" in p["reason"]

    # builder + clone models report their decision without executing
    built = Model(
        "plain",
        lambda ctx: spark.createDataFrame([(1, "open", 1.0, "a")], DDL),
        date_col=None,
    )
    plan = runner.plan_refresh(
        [built, Model("plain_clone", clone_of="plain")], RUN_DATE
    )
    by = {p["model"]: p for p in plan}
    assert by["plain"]["action"] == "full"  # dateless → full rewrite
    assert by["plain_clone"]["action"] == "clone"
    assert not cat.exists("plain")  # dry-run wrote nothing
