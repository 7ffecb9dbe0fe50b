"""Single-pass lifecycle internals: delete_by_keys' flagged one-job
rewrite (survivors + erased rows from ONE scan, commit marked
``changes_delete_only``), the append commit whose change feed is its own
added files, the date cleanup whose change feed is the files it removed,
and the mixed partitioned/flat change-file span read (ADVICE r11 #2)."""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import functions as F

from kin_data_pipeline_spark.plans import txlog
from kin_data_pipeline_spark.plans.engine import Catalog

DDL = "id long, grp string, val long"


def _mk(spark, tmp_path, rows, name="t", date_col=None):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full(name, spark.createDataFrame(rows, DDL), date_col)
    return cat


def test_delete_by_keys_commits_delete_only_changes(spark, tmp_path):
    cat = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20), (3, "b", 30)])
    cat.enable_versioning("t")
    removed = cat.delete_by_keys("t", "grp", ["b"])
    assert removed == 2
    entry = cat.history("t")[-1]
    assert entry["operation"] == "delete_by_keys"
    assert entry["changes"] is True
    assert entry.get("changes_delete_only") is True
    # the stored change files are DATA files (no _change_type column)
    # holding exactly the erased rows; the reader synthesizes 'delete'
    ch = cat.table_changes("t", 0, 1)
    rows = sorted((r.id, r.grp, r.val, r._change_type) for r in ch.collect())
    assert rows == [(2, "b", 20, "delete"), (3, "b", 30, "delete")]
    # survivors intact, erased gone
    assert sorted(r.id for r in cat.table("t").collect()) == [1]


def test_delete_by_keys_duplicate_and_null_keys(spark, tmp_path):
    # duplicate delete requests must not fan rows out through the left
    # join, and NULL keys must neither delete nor be deleted
    cat = _mk(spark, tmp_path, [(1, "a", 10), (2, None, 20), (3, "b", 30)])
    cat.enable_versioning("t")
    keys = spark.createDataFrame([("b",), ("b",), (None,)], "grp string")
    removed = cat.delete_by_keys("t", "grp", keys)
    assert removed == 1
    assert sorted(r.id for r in cat.table("t").collect()) == [1, 2]
    ch = cat.table_changes("t", 0, 1)
    assert [(r.id, r._change_type) for r in ch.collect()] == [(3, "delete")]


def test_delete_by_keys_partitioned_cdf_fills_partition_column(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02"), (3, "b", "2024-01-01")],
        "id long, grp string, d string",
    ).withColumn("d", F.col("d").cast("date"))
    cat.write_full("t", df, "d")
    cat.enable_versioning("t")
    assert cat.delete_by_keys("t", "grp", ["b"]) == 2
    # partition layout preserved on the rewritten table
    assert all("/d=" in f for f in cat.table("t").inputFiles())
    # change files keep their d=... dirs; the reader restores the column
    ch = cat.table_changes("t", 0, 1)
    rows = sorted((r.id, str(r.d), r._change_type) for r in ch.collect())
    assert rows == [(2, "2024-01-02", "delete"), (3, "2024-01-01", "delete")]


def test_delete_by_keys_no_match_and_delete_all(spark, tmp_path):
    cat = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20)])
    cat.enable_versioning("t")
    assert cat.delete_by_keys("t", "grp", ["zzz"]) == 0  # v1: empty diff
    assert cat.table_changes("t", 0, 1).count() == 0
    assert cat.delete_by_keys("t", "grp", ["a", "b"]) == 2  # v2: all gone
    assert cat.table("t").count() == 0  # empty table stays readable
    ch = cat.table_changes("t", 1, 2)
    assert sorted(r.id for r in ch.collect()) == [1, 2]
    assert {r._change_type for r in ch.collect()} == {"delete"}


def test_partitioned_insert_and_delete_span_nets(spark, tmp_path):
    # ADVICE r11 #2 regression shape: a span holding several data-file
    # change dirs is read PER DIR (no multi-root partition discovery that
    # could hit 'conflicting directory structures'), and the netting
    # still composes across an insert-only and a delete-only commit with
    # the partition column restored from the paths
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
        "id long, grp string, d string",
    ).withColumn("d", F.col("d").cast("date"))
    cat.write_full("t", df, "d")
    cat.enable_versioning("t")
    extra = spark.createDataFrame(
        [(3, "b", "2024-01-03")], "id long, grp string, d string"
    ).withColumn("d", F.col("d").cast("date"))
    cat.write_append("t", extra, "d")  # v1: partitioned insert-only
    cat.delete_by_keys("t", "grp", ["b"])  # v2: partitioned delete-only
    ch = cat.table_changes("t", 0, 2)
    rows = sorted(
        (r.id, str(r.d), r._change_type) for r in ch.collect()
    )
    # multi-commit netting: id=3 inserted then deleted nets away
    assert rows == [(2, "2024-01-02", "delete")]


def test_streaming_cdf_serves_delete_only_commits(spark, tmp_path):
    from kin_data_pipeline_spark.streaming.cdf_source import (
        read_table_changes,
    )

    cat = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20)])
    cat.enable_versioning("t")
    cat.delete_by_keys("t", "grp", ["b"])
    ch = read_table_changes(spark, cat.warehouse_dir, "t", DDL)
    rows = [(r.id, r._change_type, r._commit_version) for r in ch.collect()]
    assert rows == [(2, "delete", 1)]


def test_staged_append_links_change_files(spark, tmp_path):
    cat = _mk(spark, tmp_path, [(1, "a", 10)])
    cat.enable_versioning("t")
    cat.write_append("t", spark.createDataFrame([(2, "b", 20)], DDL), None)
    entry = cat.history("t")[-1]
    assert entry.get("changes_insert_only") is True
    # the commit's change feed links the very files it added to the table:
    # nothing is copied or staged beside them
    tip = txlog.tip(cat.path("t"))
    feed = [f["path"] for f in tip["changes"]["files"]]
    assert feed, "insert-only commit stored no change files"
    assert feed == tip["add"]
    live = {
        os.path.relpath(urlparse(f).path, cat.path("t"))
        for f in cat.table("t").inputFiles()
    }
    assert set(feed) <= live
    ch = cat.table_changes("t", 0, 1)
    assert [(r.id, r._change_type) for r in ch.collect()] == [(2, "insert")]


def test_date_cleanup_stages_linked_deletes(spark, tmp_path):
    import datetime

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-02-01"), (3, "c", "2024-03-01")],
        "id long, grp string, d string",
    ).withColumn("d", F.col("d").cast("date"))
    cat.write_full("t", df, "d")
    cat.enable_versioning("t")
    n = cat.delete_where_date_ge("t", "d", datetime.date(2024, 2, 1))
    assert n == 2  # two partitions dropped
    entry = cat.history("t")[-1]
    assert entry.get("changes_delete_only") is True
    ch = cat.table_changes("t", 0, 1)
    rows = sorted((r.id, str(r.d), r._change_type) for r in ch.collect())
    assert rows == [
        (2, "2024-02-01", "delete"),
        (3, "2024-03-01", "delete"),
    ]
    assert sorted(r.id for r in cat.table("t").collect()) == [1]
