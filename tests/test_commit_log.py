"""The per-table commit log (plans/txlog.py): concurrent writers, the
commit conflict check, atomic entry publication, metadata-only watermark
and file listing, and the run report's write stats taken from the
committed entry."""

from __future__ import annotations

import datetime
import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from kin_data_pipeline_spark.plans import txlog
from kin_data_pipeline_spark.plans.engine import Catalog, Runner
from kin_data_pipeline_spark.plans.model import Model


def _rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "'g' AS grp", "id * 10 AS val")


def _race(monkeypatch, operation):
    """Make the first commit attempt of ``operation`` in each of two
    threads wait until both threads got there: both read the same tip and
    wrote their files, so both claim the same log entry."""
    barrier = threading.Barrier(2, timeout=300)
    waited = set()
    real = txlog.create

    def create(root, entry):
        if entry["operation"] == operation and threading.get_ident() not in waited:
            waited.add(threading.get_ident())
            barrier.wait()
        return real(root, entry)

    monkeypatch.setattr(txlog, "create", create)


def _logged(cat, name) -> set:
    """Every file any log entry of ``name`` lists."""
    root = cat.path(name)
    return {
        f"{root}/{f['path']}"
        for e in txlog.entries(root)
        for f in e["files"] + (e["changes"] or {}).get("files", [])
    }


def _run_both(fn, args):
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(fn, a) for a in args]
    return [f.exception() for f in futures]


def test_concurrent_appends_to_one_versioned_table_both_land(spark, tmp_path, monkeypatch):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full("t", _rows(spark, 0, 10), None)
    cat.enable_versioning("t")
    _race(monkeypatch, "write_append")
    errors = _run_both(
        lambda lo: cat.write_append("t", _rows(spark, lo, lo + 1000), None),
        [1000, 2000],
    )
    assert errors == [None, None]
    assert cat.table("t").count() == 2010
    assert [e["version"] for e in cat.history("t")] == [0, 1, 2]
    # each append's change feed is exactly its own rows
    for v in (1, 2):
        ids = [r.id for r in cat.table_changes("t", v - 1, v).collect()]
        assert len(ids) == 1000 and len({i // 1000 for i in ids}) == 1


def test_concurrent_appends_that_create_a_table_both_land(spark, tmp_path, monkeypatch):
    """Two appends race to create a missing table: the loser read no
    entry, and the winner created the table it would have created."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    _race(monkeypatch, "write_append")
    errors = _run_both(
        lambda lo: cat.write_append("t", _rows(spark, lo, lo + 100), None), [0, 100]
    )
    assert errors == [None, None]
    assert cat.table("t").count() == 200
    assert txlog.numbers(cat.path("t")) == [0, 1]


def test_many_concurrent_appends_lose_no_commit(spark, tmp_path):
    """More appending threads than cores, with frequent thread switches:
    a lost update would drop rows or leave a gap in the versions."""
    import sys

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full("t", _rows(spark, 0, 10), None)
    cat.enable_versioning("t")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=6) as pool:
            futures = [
                pool.submit(cat.write_append, "t", _rows(spark, lo, lo + 50), None)
                for lo in range(100, 700, 100)
            ]
            for f in futures:
                f.result(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert cat.table("t").count() == 310
    assert [e["version"] for e in cat.history("t")] == list(range(7))


def test_losing_rewrite_raises_conflict_and_keeps_winner(spark, tmp_path, monkeypatch, crash):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full("t", _rows(spark, 0, 10), None)
    cat.enable_versioning("t")
    _race(monkeypatch, "upsert_by_key")
    patches = {1: _rows(spark, 0, 3).withColumn("val", F.lit(1)),
               2: _rows(spark, 5, 8).withColumn("val", F.lit(2))}
    errors = _run_both(
        lambda k: cat.upsert_by_key("t", patches[k], ["id"], None), [1, 2]
    )
    lost = [e for e in errors if e is not None]
    assert len(lost) == 1 and isinstance(lost[0], txlog.CommitConflict)
    winner = 2 if errors[0] is not None else 1
    assert [e["version"] for e in cat.history("t")] == [0, 1]
    got = {r.id: r.val for r in cat.table("t").collect()}
    patched = {i for i, v in got.items() if v in (1, 2)}
    assert len(got) == 10 and {got[i] for i in patched} == {winner}
    # the loser's files are gone: everything on disk is some entry's
    assert crash.files_on_disk(cat, "t") <= _logged(cat, "t")


def _ordered(monkeypatch, first, then):
    """Make ``then`` lose the race for a log entry to ``first``: the
    first commit attempt of ``first`` waits until ``then`` has read its
    tip and written its files, and ``then`` claims the entry only after
    ``first`` took it."""
    ready, done = threading.Event(), threading.Event()
    real = txlog.create

    def create(root, entry):
        if entry["operation"] == then and not ready.is_set():
            ready.set()
            assert done.wait(300)
        elif entry["operation"] == first and not done.is_set():
            assert ready.wait(300)
            try:
                return real(root, entry)
            finally:
                done.set()
        return real(root, entry)

    monkeypatch.setattr(txlog, "create", create)


_MUTATIONS = {
    # a rewrite that adds a column
    "write_full": lambda spark, cat: cat.write_full(
        "t", _rows(spark, 0, 10).withColumn("extra", F.lit(1)), None
    ),
    # rows that break the constraint below
    "write_append": lambda spark, cat: cat.write_append("t", _rows(spark, 100, 110), None),
    "add_constraint": lambda spark, cat: cat.add_constraint("t", "small", "val < 500"),
    "save_ivm_state": lambda spark, cat: cat.save_ivm_state("t", "src", 3),
}


@pytest.mark.parametrize(
    "first,then",
    [
        ("write_full", "write_append"),
        ("add_constraint", "write_append"),
        ("write_append", "add_constraint"),
        ("write_full", "save_ivm_state"),
    ],
)
def test_commit_that_raced_a_change_it_depended_on_conflicts(
    spark, tmp_path, monkeypatch, crash, first, then
):
    """An append checked its schema and CHECK constraints against the
    entry it read, and a prop change (a new constraint, an IVM refresh
    state) describes the content it read. When a concurrent commit
    changed either, the loser raises ``CommitConflict`` rather than
    rebasing: the schema stays, the constraint holds, and the IVM state
    never describes content it did not see."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full("t", _rows(spark, 0, 10), None)
    _ordered(monkeypatch, first, then)
    errors = _run_both(lambda op: _MUTATIONS[op](spark, cat), [first, then])
    assert errors[0] is None and isinstance(errors[1], txlog.CommitConflict)
    tip = txlog.tip(cat.path("t"))
    assert tip["operation"] == first and tip["n"] == 1
    frame = cat.table("t")
    assert frame.count() == (20 if first == "write_append" else 10)
    assert ("extra" in frame.columns) == (first == "write_full")
    assert cat.constraints("t") == ({"small": "val < 500"} if first == "add_constraint" else {})
    assert cat.ivm_state("t") is None
    assert crash.files_on_disk(cat, "t") <= _logged(cat, "t")


def test_readers_never_see_a_partly_written_entry(spark, tmp_path, monkeypatch):
    """An entry's number appears together with its whole content: while
    a commit is held between opening its entry file and writing it,
    other threads read the previous entry."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full("t", _rows(spark, 0, 10), None)
    cat.enable_versioning("t")
    held, go = threading.Event(), threading.Event()
    writer = {}

    def dumps(obj, *args, **kwargs):
        if threading.get_ident() == writer.get("thread"):
            held.set()
            go.wait(300)
        return json.dumps(obj, *args, **kwargs)

    monkeypatch.setattr(txlog, "json", SimpleNamespace(dumps=dumps, load=json.load))

    def append():
        writer["thread"] = threading.get_ident()
        cat.write_append("t", _rows(spark, 10, 20), None)

    with ThreadPoolExecutor(max_workers=1) as pool:
        future = pool.submit(append)
        assert held.wait(300)
        try:
            assert txlog.tip(cat.path("t"))["n"] == 1
            assert cat.table("t").count() == 10
            assert cat.list_tables() == ["t"]
            assert [e["version"] for e in cat.history("t")] == [0]
        finally:
            go.set()
        future.result(timeout=300)
    assert cat.table("t").count() == 20
    assert [e["version"] for e in cat.history("t")] == [0, 1]


def test_crash_while_writing_an_entry_keeps_previous_version(spark, tmp_path, crash):
    """A crash between writing an entry's content and publishing it
    leaves no entry: the table stays at its previous version, and vacuum
    removes the entry's temporary file and the write's data files."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full("t", _rows(spark, 0, 10), None)
    cat.enable_versioning("t")
    before = crash.live_files(cat, "t")
    with crash.at(txlog.os, "fsync"):
        cat.write_append("t", _rows(spark, 10, 20), None)
    crash.recover()
    log_dir = os.path.join(cat.path("t"), txlog.LOG)
    assert any(n.endswith(".tmp") for n in os.listdir(log_dir))
    assert cat.table("t").count() == 10 and cat.list_tables() == ["t"]
    assert [e["version"] for e in cat.history("t")] == [0]
    cat.vacuum("t", min_age_s=0)
    assert all(n.endswith(".json") for n in os.listdir(log_dir))
    assert crash.files_on_disk(cat, "t") == before
    cat.write_append("t", _rows(spark, 10, 20), None)
    assert cat.table("t").count() == 20
    assert [e["version"] for e in cat.history("t")] == [0, 1]


def test_watermark_and_table_listing_run_no_spark_job(spark, tmp_path):
    """The watermark is the max of the log's file stats, and a read of a
    table whose file list exceeds Spark's parallel-listing threshold (32)
    resolves it in this process: neither launches a job."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(400).selectExpr(
        "id", "date_add(DATE'2024-01-01', CAST(id % 40 AS INT)) AS d"
    )
    cat.write_full("t", df, "d")
    assert len(txlog.tip(cat.path("t"))["files"]) == 40
    sc = spark.sparkContext
    sc.setJobGroup("log-reads", "watermark and listing")
    try:
        wm = cat.high_watermark("t", "d")
        frame = cat.table("t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("log-reads")) == []
    assert wm == datetime.date(2024, 2, 9)
    assert frame.count() == 400


def test_run_report_rows_match_the_committed_tables(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame(
        [(i, datetime.date(2024, 1, 1 + i % 3)) for i in range(6)], "id long, d date"
    )
    cat.write_full("src", src, "d")
    models = [
        Model("inc", lambda ctx: ctx.table("src"), date_col="d"),
        Model(
            "totals",
            lambda ctx: ctx.table("inc").groupBy("d").count(),
            date_col=None,
            depends_on=["inc"],
        ),
    ]
    report = str(tmp_path / "runs.jsonl")
    runner = Runner(spark, cat)
    runner.run(models, datetime.date(2024, 2, 1), report_path=report)
    cat.write_append(
        "src",
        spark.createDataFrame([(9, datetime.date(2024, 1, 9))], "id long, d date"),
        "d",
    )
    runner.run(models, datetime.date(2024, 2, 1), report_path=report)
    with open(report) as fh:
        runs = [{m["model"]: m for m in json.loads(line)["models"]} for line in fh]
    assert [r["inc"]["action"] for r in runs] == ["full", "incremental"]
    assert runs[1]["inc"]["rows_written"] == 1
    assert sum(r["inc"]["rows_written"] for r in runs) == cat.table("inc").count() == 7
    assert runs[1]["totals"]["rows_written"] == cat.table("totals").count() == 4
    for r in runs:
        for m in r.values():
            assert m["files_written"] >= 1 and m["bytes_written"] > 0
