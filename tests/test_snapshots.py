"""Catalog snapshots / time travel: tagged zero-copy versions that survive
every later write path (overwrite, append, upsert, compaction), instant
restore as one commit, vacuum retention, and hygiene (list_tables
exclusion, clone/bucketed guardrails)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kin_data_pipeline_spark.plans import txlog
from kin_data_pipeline_spark.plans.engine import Catalog

def _rows(df):
    return sorted(tuple(r) for r in df.collect())

@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"))

def _df(spark, *vals):
    return spark.createDataFrame([(v, f"r{v}") for v in vals], "id long, s string")

def test_snapshot_survives_overwrite_and_restore_rolls_back(spark, cat):
    cat.write_full("t", _df(spark, 1, 2, 3), date_col=None)
    cat.snapshot("t", "v1")
    cat.write_full("t", _df(spark, 9), date_col=None)
    assert _rows(cat.table("t")) == [(9, "r9")]
    assert _rows(cat.table_at("t", "v1")) == [(1, "r1"), (2, "r2"), (3, "r3")]
    cat.restore("t", "v1")
    assert _rows(cat.table("t")) == [(1, "r1"), (2, "r2"), (3, "r3")]
    # the snapshot outlives its own restore
    assert cat.list_snapshots("t") == ["v1"]

def test_snapshot_is_zero_copy(spark, cat, crash):
    cat.write_full("t", _df(spark, 1, 2), date_col=None)
    on_disk = crash.files_on_disk(cat, "t")
    cat.snapshot("t", "v1")
    # the tag names the table's own files: no byte was copied
    assert crash.files_on_disk(cat, "t") == on_disk
    assert sorted(cat.table_at("t", "v1").inputFiles()) == sorted(
        cat.table("t").inputFiles()
    )

def test_snapshot_unaffected_by_append_upsert_compact(spark, cat):
    cat.write_full("t", _df(spark, 1, 2), date_col=None)
    cat.snapshot("t", "v1")
    cat.write_append("t", _df(spark, 3), date_col=None)
    cat.upsert_by_key("t", _df(spark, 2), key_cols=["id"], date_col=None)
    cat.compact("t", date_col=None)
    assert _rows(cat.table("t")) == [(1, "r1"), (2, "r2"), (3, "r3")]
    assert _rows(cat.table_at("t", "v1")) == [(1, "r1"), (2, "r2")]

def test_snapshot_of_empty_partitioned_table_readable(spark, cat):
    df = _df(spark, 1).filter(F.col("id") > 99)
    cat.write_full("t", df, date_col=None)
    cat.snapshot("t", "empty")
    got = cat.table_at("t", "empty")
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "s"]

def test_snapshot_tags_are_isolated_and_droppable(spark, cat):
    cat.write_full("t", _df(spark, 1), date_col=None)
    cat.snapshot("t", "v1")
    cat.write_full("t", _df(spark, 2), date_col=None)
    cat.snapshot("t", "v2")
    assert cat.list_snapshots("t") == ["v1", "v2"]
    assert _rows(cat.table_at("t", "v1")) == [(1, "r1")]
    assert _rows(cat.table_at("t", "v2")) == [(2, "r2")]
    cat.drop_snapshot("t", "v1")
    assert cat.list_snapshots("t") == ["v2"]
    with pytest.raises(ValueError, match="no snapshot"):
        cat.table_at("t", "v1")

def test_snapshot_guardrails(spark, cat):
    cat.write_full("src", _df(spark, 1), date_col=None)
    cat.clone("alias", "src")
    # snapshot through a clone captures the resolved data (under the alias)
    cat.snapshot("alias", "v1")
    assert _rows(cat.table_at("alias", "v1")) == [(1, "r1")]
    # but restore through a clone must refuse (would mutate the source)
    with pytest.raises(ValueError, match="clone"):
        cat.restore("alias", "v1")
    with pytest.raises(ValueError, match="missing table"):
        cat.snapshot("nope", "v1")
    with pytest.raises(ValueError, match="already exists"):
        cat.snapshot("alias", "v1")
    with pytest.raises(ValueError, match="invalid snapshot tag"):
        cat.snapshot("src", "../escape")
    # empty and whitespace-only tags name nothing
    for bad in ("", "   "):
        with pytest.raises(ValueError, match="invalid snapshot tag"):
            cat.snapshot("src", bad)
    # tags are dot-separated words; a word may not start with '_' or '.'
    # (names the catalog keeps for itself)
    with pytest.raises(ValueError, match="invalid snapshot tag"):
        cat.snapshot("src", "x.__staging")
    # snapshot dirs never surface as tables
    assert "src.__snapshots" not in cat.list_tables()
    assert set(cat.list_tables()) == {"src", "alias"}

def test_snapshot_dir_excluded_from_list_tables_after_many_tags(spark, cat):
    cat.write_full("t", _df(spark, 1), date_col=None)
    for i in range(3):
        cat.snapshot("t", f"v{i}")
    assert cat.list_tables() == ["t"]

def test_diff_snapshot_reports_added_and_removed(spark, cat):
    cat.write_full("t", _df(spark, 1, 2, 3), date_col=None)
    cat.snapshot("t", "v1")
    # remove 3, add 4 and a DUPLICATE of 2 (multiplicity must surface)
    cat.write_full(
        "t",
        spark.createDataFrame(
            [(1, "r1"), (2, "r2"), (2, "r2"), (4, "r4")], "id long, s string"
        ),
        date_col=None,
    )
    added, removed = cat.diff_snapshot("t", "v1")
    assert _rows(added) == [(2, "r2"), (4, "r4")]
    assert _rows(removed) == [(3, "r3")]

def test_diff_snapshot_refuses_schema_drift(spark, cat):
    cat.write_full("t", _df(spark, 1), date_col=None)
    cat.snapshot("t", "v1")
    cat.write_full(
        "t",
        spark.createDataFrame([(1, "r1", 9)], "id long, s string, extra long"),
        date_col=None,
    )
    with pytest.raises(ValueError, match="column sets differ"):
        cat.diff_snapshot("t", "v1")

def test_restore_clears_interim_bucket_layout(spark, cat):
    # snapshot plain -> convert the live table to bucketed -> restore the
    # tag: a surviving bucket record would route table() through a
    # bucketed scan over restored non-bucket-named files
    cat.write_full("t", _df(spark, 1, 2), date_col=None)
    cat.snapshot("t", "v1")
    cat.write_bucketed("t", _df(spark, 7, 8), bucket_cols=["id"], n_buckets=2)
    assert _rows(cat.table("t")) == [(7, "r7"), (8, "r8")]
    cat.restore("t", "v1")
    assert _rows(cat.table("t")) == [(1, "r1"), (2, "r2")]

def test_delete_by_keys_list_and_frame(spark, cat):
    cat.write_full("t", _df(spark, 1, 2, 3, 4), date_col=None)
    removed = cat.delete_by_keys("t", "id", [2, 4])
    assert removed == 2
    assert _rows(cat.table("t")) == [(1, "r1"), (3, "r3")]
    keys = spark.createDataFrame([(3,)], "id long")
    assert cat.delete_by_keys("t", "id", keys) == 1
    assert _rows(cat.table("t")) == [(1, "r1")]
    # idempotent on absent keys
    assert cat.delete_by_keys("t", "id", [99]) == 0

def test_delete_by_keys_preserves_partition_layout(spark, cat):
    import os

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")],
        "id long, d string",
    ).withColumn("d", F.to_date("d"))
    cat.write_full("t", df, date_col="d")
    assert cat.delete_by_keys("t", "id", [2]) == 1
    assert sorted(r[0] for r in cat.table("t").select("id").collect()) == [1, 3]
    parts = {
        seg for f in cat.table("t").inputFiles() for seg in f.split("/")
        if seg.startswith("d=")
    }
    assert sorted(parts) == ["d=2024-01-01", "d=2024-01-02"]

def test_delete_by_keys_guardrails(spark, cat):
    cat.write_full("src", _df(spark, 1), date_col=None)
    cat.clone("alias", "src")
    with pytest.raises(ValueError, match="clone"):
        cat.delete_by_keys("alias", "id", [1])
    with pytest.raises(ValueError, match="no column"):
        cat.delete_by_keys("src", "nope", [1])


def test_vacuum_prunes_snapshots_to_keep_last(spark, cat):
    import time

    cat.write_full("t", _df(spark, 1), date_col=None)
    for i in range(4):
        cat.snapshot("t", f"v{i}")
        time.sleep(0.05)  # distinct publish mtimes for the retention order
    report = cat.vacuum("t", keep_snapshots=2, min_age_s=0.0)
    assert report["snapshots_dropped"] == {"t": ["v0", "v1"]}
    assert cat.list_snapshots("t") == ["v2", "v3"]
    # the kept snapshots still read
    assert _rows(cat.table_at("t", "v3")) == [(1, "r1")]


def test_vacuum_sweeps_aged_orphan_scratch_but_spares_fresh(spark, cat):
    cat.write_full("t", _df(spark, 1), date_col=None)
    # the staging directory of a crashed (or still running) write
    stale = os.path.join(cat.path("t"), "_tmp-orphan")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-junk.parquet"), "w") as f:
        f.write("x")
    # fresh files (age 0) survive a retention-guarded vacuum — they may be
    # a concurrent writer's, not yet committed ...
    assert cat.vacuum("t", min_age_s=3600.0)["files_removed"] == []
    assert os.path.isdir(stale)
    # ... and are swept once they are older than the retention window
    report = cat.vacuum("t", min_age_s=0.0)
    assert report["files_removed"] == ["t/_tmp-orphan"]
    assert not os.path.exists(stale)
    assert _rows(cat.table("t")) == [(1, "r1")]


def test_vacuum_heals_crashed_swap_before_sweeping(spark, cat, crash):
    """A crash after a rewrite's log entry but before it deleted the files
    it replaced loses nothing: the rewritten table reads, and vacuum then
    deletes the replaced files."""
    cat.write_full("t", _df(spark, 1, 2), date_col=None)
    old = crash.live_files(cat, "t")
    with crash.at(Catalog, "_delete_files"):
        cat.write_full("t", _df(spark, 3), date_col=None)
    crash.recover()
    assert _rows(cat.table("t")) == [(3, "r3")]
    assert old <= crash.files_on_disk(cat, "t")
    cat.vacuum("t", min_age_s=0.0)
    assert crash.files_on_disk(cat, "t") == crash.live_files(cat, "t")
    assert _rows(cat.table("t")) == [(3, "r3")]


def test_vacuum_keeps_files_a_tag_pins(spark, cat, crash):
    """Files a rewrite replaced stay on disk while a tag names them, even
    through vacuum; dropping the tag deletes them."""
    cat.write_full("t", _df(spark, 1), date_col=None)
    cat.snapshot("t", "good")
    pinned = crash.live_files(cat, "t")
    cat.write_full("t", _df(spark, 2), date_col=None)
    assert cat.vacuum("t", min_age_s=0.0)["files_removed"] == []
    assert cat.list_snapshots("t") == ["good"]
    assert _rows(cat.table_at("t", "good")) == [(1, "r1")]
    cat.drop_snapshot("t", "good")
    assert not pinned & crash.files_on_disk(cat, "t")
    assert _rows(cat.table("t")) == [(2, "r2")]


def test_vacuum_trims_log_of_table_without_history(spark, cat):
    """A table without history needs only its tip: vacuum drops the older
    log entries, and the table still reads and takes new commits."""
    for i in range(3):
        cat.write_full("t", _df(spark, i), date_col=None)
    assert len(txlog.numbers(cat.path("t"))) == 3
    cat.vacuum("t", min_age_s=0.0)
    assert len(txlog.numbers(cat.path("t"))) == 1
    cat.write_append("t", _df(spark, 7), date_col=None)
    assert _rows(cat.table("t")) == [(2, "r2"), (7, "r7")]
