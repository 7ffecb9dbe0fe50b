"""Structured Streaming parity: the streaming daily rollup must converge to
the batch answer once all files are processed (SURVEY.md §2.9 superset)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kin_data_pipeline_spark.sources.catalog import load_table
from kin_data_pipeline_spark.streaming import (
    daily_rollup_stream,
    sessionize_stream,
    stream_events_from_parquet,
)

def _run_to_completion(stream_df, spark, name: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")

def test_streaming_daily_rollup_matches_batch(spark, sf_dir):
    stream = stream_events_from_parquet(spark, sf_dir)
    got = _run_to_completion(daily_rollup_stream(stream), spark, "daily_rollup")

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("date_key"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
    )
    got_rows = {
        (r["date_key"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in got.collect()
    }
    batch_rows = {
        (r["date_key"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got_rows == batch_rows

def test_streaming_sessionization_runs(spark, sf_dir):
    stream = stream_events_from_parquet(spark, sf_dir)
    got = _run_to_completion(sessionize_stream(stream), spark, "sessions")
    rows = got.collect()
    assert len(rows) > 0
    assert all(r["session_end"] >= r["session_start"] for r in rows)
    assert all(r["n_events"] >= 1 for r in rows)

def test_running_balance_stream_matches_batch(spark, sf_dir):
    from kin_data_pipeline_spark.streaming import running_balance_stream

    stream = stream_events_from_parquet(spark, sf_dir)
    q = (
        running_balance_stream(stream)
        .writeStream.format("memory")
        .queryName("running_balance")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode appends one row per key per micro-batch; the LAST row per
    # key is the final state — with a single source file there is one batch.
    got = {
        r["user_id"]: (round(r["balance"], 6), r["n_events"])
        for r in spark.sql("SELECT * FROM running_balance").collect()
    }
    batch = {
        r["user_id"]: (round(r["total"], 6), r["n"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch

def test_streaming_ingest_lands_in_catalog_idempotently(spark, sf_dir, tmp_path):
    """Streaming ingestion writes the same date-partitioned table the batch
    loader maintains, converges to the batch read, and replaying the stream
    (same checkpoint) or re-running a committed batch adds no duplicates."""
    from pyspark.sql import functions as F

    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.sources.catalog import load_table
    from kin_data_pipeline_spark.streaming import (
        ingest_to_catalog,
        last_committed_batch,
        stream_events_from_parquet,
    )

    cat = Catalog(spark, str(tmp_path / "wh"))
    ck = str(tmp_path / "ck")
    project = lambda df: df.select(  # noqa: E731
        "event_id", "user_id", "value", F.to_date("ts").alias("date_key")
    )
    src = str(tmp_path / "landing")
    ingest_to_catalog(
        project(stream_events_from_parquet(spark, sf_dir, staging=src)),
        cat, "events_ingested", "date_key", "ingest_test", ck,
    )
    got = cat.table("events_ingested")
    want = project(load_table(spark, sf_dir, "events"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert last_committed_batch(ck, "events_ingested") >= 0
    # date partitioning is physical (partition pruning works at scale)
    assert (tmp_path / "wh" / "events_ingested").is_dir()
    parts = [p.name for p in (tmp_path / "wh" / "events_ingested").iterdir()]
    assert any(p.startswith("date_key=") for p in parts)
    # replay with the same checkpoint: stream has no new data -> no change;
    # and a forced re-run of batch 0 is skipped by the commit guard
    ingest_to_catalog(
        project(stream_events_from_parquet(spark, sf_dir, staging=src)),
        cat, "events_ingested", "date_key", "ingest_test", ck,
    )
    assert cat.table("events_ingested").count() == want.count()


def test_streaming_query_leaves_caller_conf_untouched(spark, sf_dir):
    """Streams run on a cloned session: the caller's SQL conf must never be
    mutated (the old toggle-and-restore raced concurrent batch queries)."""
    from kin_data_pipeline_spark.queries import QUERIES

    before = spark.conf.get("spark.sql.shuffle.partitions")
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    out = QUERIES["streaming_feed_dedup"].fn(spark, sf_dir)
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.conf.get("spark.sql.session.timeZone") == tz_before


def test_streaming_cdf_replays_history_and_matches_batch(spark, tmp_path):
    """The catalog_changes Python Data Source replays the full committed
    history as insert/delete rows that match the batch table_changes
    diffs commit by commit (multiset semantics included)."""
    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import stream_table_changes

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full(
        "t", spark.createDataFrame([(1, "a", 10), (2, "b", 20), (2, "b", 20)], ddl), None
    )
    cat.enable_versioning("t")  # v0
    cat.write_full(
        "t", spark.createDataFrame([(1, "a", 99), (2, "b", 20), (3, "c", 30)], ddl), None
    )  # v1: update id=1, drop one dup of id=2, insert id=3
    cat.delete_by_keys("t", "grp", ["c"])  # v2

    st = stream_table_changes(spark, cat.warehouse_dir, "t", ddl)
    q = (
        st.writeStream.format("memory").queryName("cdf_replay")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r.id, r.val)
        for r in spark.table("cdf_replay").collect()
    )
    want = []
    for v in (1, 2):
        ch = cat.table_changes("t", v - 1, v)
        want += [(v, r["_change_type"], r.id, r.val) for r in ch.collect()]
    assert got == sorted(want)
    # the multiset case concretely: exactly ONE delete of the (2, 20) dup
    assert got.count((1, "delete", 2, 20)) == 1


def test_streaming_cdf_checkpoint_resumes_with_only_the_delta(spark, tmp_path):
    """Offsets persist through the checkpoint: a resumed stream emits only
    versions committed after the first run — the incremental contract that
    makes the source a real CDC feed, not a replayer."""
    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import stream_table_changes

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full("t", spark.createDataFrame([(1, "a", 10)], ddl), None)
    cat.enable_versioning("t")  # v0
    cat.write_append("t", spark.createDataFrame([(2, "b", 20)], ddl), None)  # v1

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        # a DURABLE sink: memory sinks refuse checkpoint recovery, and
        # recovery is exactly what this test pins
        q = (
            stream_table_changes(spark, cat.warehouse_dir, "t", ddl)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        return sorted(
            (r["_commit_version"], r["_change_type"], r.id)
            for r in spark.read.parquet(out).collect()
        )

    first = drain()
    assert first == [(1, "insert", 2)]
    # commit two more versions AFTER the checkpointed run
    cat.write_append("t", spark.createDataFrame([(3, "c", 30)], ddl), None)  # v2
    cat.delete_by_keys("t", "grp", ["a"])  # v3
    # the resumed stream appends ONLY the post-checkpoint commits
    cumulative = drain()
    assert cumulative == [(1, "insert", 2), (2, "insert", 3), (3, "delete", 1)]


def test_streaming_cdf_starting_version_skips_history(spark, tmp_path):
    """startingVersion begins the feed mid-history (Delta's convention),
    which is also the recovery path for vacuumed tables — and a stream
    pointed below the retention floor fails with the explicit
    vacuumed-version error, not a raw missing-file crash."""
    import pytest as _pytest

    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import stream_table_changes

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full("t", spark.createDataFrame([(1, "a", 10)], ddl), None)
    cat.enable_versioning("t")  # v0
    cat.write_append("t", spark.createDataFrame([(2, "b", 20)], ddl), None)  # v1
    cat.write_append("t", spark.createDataFrame([(3, "c", 30)], ddl), None)  # v2

    def drain(sink: str, starting: int):
        q = (
            stream_table_changes(spark, cat.warehouse_dir, "t", ddl, starting)
            .writeStream.format("memory").queryName(sink)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        return sorted(
            (r["_commit_version"], r["_change_type"], r.id)
            for r in spark.table(sink).collect()
        )

    assert drain("cdf_sv", 1) == [(2, "insert", 3)]
    # vacuum v0/v1 away; a feed from the floor's predecessor must refuse
    cat.vacuum_versions("t", keep_last=1)
    with _pytest.raises(Exception, match="vacuumed"):
        drain("cdf_sv2", 0)


def test_batch_cdf_read_matches_stream_and_bounds(spark, tmp_path):
    """spark.read.format('catalog_changes') — the bounded batch twin:
    same per-commit diff rows as the stream, version range honored."""
    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import read_table_changes

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full("t", spark.createDataFrame([(1, "a", 10)], ddl), None)
    cat.enable_versioning("t")  # v0
    cat.write_append("t", spark.createDataFrame([(2, "b", 20)], ddl), None)  # v1
    cat.delete_by_keys("t", "grp", ["a"])  # v2

    full = sorted(
        (r["_commit_version"], r["_change_type"], r.id)
        for r in read_table_changes(spark, cat.warehouse_dir, "t", ddl).collect()
    )
    assert full == [(1, "insert", 2), (2, "delete", 1)]
    only_v1 = sorted(
        (r["_commit_version"], r["_change_type"], r.id)
        for r in read_table_changes(
            spark, cat.warehouse_dir, "t", ddl, 0, 1
        ).collect()
    )
    assert only_v1 == [(1, "insert", 2)]
    from_v1 = read_table_changes(spark, cat.warehouse_dir, "t", ddl, 1)
    assert [(r["_commit_version"], r["_change_type"], r.id) for r in from_v1.collect()] == [
        (2, "delete", 1)
    ]


def test_streaming_cdf_changelog_commits_distributed_and_snapshot_free(spark, tmp_path):
    """Commits that stored their own change rows stream ONE INPUT
    PARTITION PER CHANGE FILE (per-commit CDF work is distributed, not a
    single-task snapshot re-diff), and never open the snapshots — pinned
    by deleting the snapshot data dirs before draining the stream
    (VERDICT r7 ask #3)."""
    import os

    from pyspark.sql.types import _parse_datatype_string

    from kin_data_pipeline_spark.plans import txlog
    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import (
        CatalogChangesBatchReader,
        _ChangeFilePartition,
        stream_table_changes,
    )

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full("t", spark.createDataFrame([(0, "z", 0)], ddl), None)
    cat.enable_versioning("t")  # v0
    # a 4-partition append stores >1 change file for the single commit
    big = spark.createDataFrame(
        [(i, "a", i * 10) for i in range(1, 101)], ddl
    ).repartition(4)
    cat.write_append("t", big, None)  # v1

    reader = CatalogChangesBatchReader(
        _parse_datatype_string(f"{ddl}, _change_type string, _commit_version int"),
        {"warehouse": cat.warehouse_dir, "table": "t", "startingversion": "0"},
    )
    parts = reader.partitions()
    assert len(parts) > 1, "multi-file commit must fan out over its files"
    assert all(isinstance(p, _ChangeFilePartition) for p in parts)

    # v0's data gone, v1's change files remain: the stream must still
    # serve v1 from them alone
    for f in txlog.versions(cat.path("t"))[0]["files"]:
        os.remove(os.path.join(cat.path("t"), f["path"]))
    q = (
        stream_table_changes(spark, cat.warehouse_dir, "t", ddl)
        .writeStream.format("memory").queryName("cdf_dist")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = spark.table("cdf_dist").collect()
    assert len(got) == 100
    assert {r["_change_type"] for r in got} == {"insert"}
    assert {r["_commit_version"] for r in got} == {1}
    assert sorted(r.id for r in got) == list(range(1, 101))


def test_batch_cdf_empty_version_range_returns_empty(spark, tmp_path):
    """An empty (start, end] range yields zero partitions; PySpark's
    planner substitutes [None] and still calls read(None), which must
    return an empty iterator, not crash on the executor (right after
    enable_versioning the tip equals startingVersion)."""
    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import read_table_changes

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full("t", spark.createDataFrame([(1, "a", 10)], ddl), None)
    cat.enable_versioning("t")  # tip == 0 == default startingVersion
    out = read_table_changes(spark, cat.warehouse_dir, "t", ddl)
    assert out.count() == 0
    assert "_change_type" in out.columns


def test_cdf_snapshot_fallback_handles_nulls_and_underscore_columns(spark, tmp_path):
    """The snapshot-diff fallback (full-rewrite commits) must survive
    NULL cells in changed rows (None is unorderable raw — the sort key
    is None-safe) and must treat a USER column that merely starts with
    '_' as data: only the exact tracking names are reserved."""
    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import stream_table_changes

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, _tag string, val long"
    cat.write_full(
        "t", spark.createDataFrame([(1, None, 10), (2, "keep", 20)], ddl), None
    )
    cat.enable_versioning("t")  # v0
    # write_full => NO stored change rows => snapshot-diff fallback; the
    # two inserts share id=1 so the determinism sort must compare a NULL
    # cell against a string
    cat.write_full(
        "t",
        spark.createDataFrame(
            [(1, None, 99), (1, "x", 5), (2, "keep", 20)], ddl
        ),
        None,
    )  # v1
    q = (
        stream_table_changes(spark, cat.warehouse_dir, "t", ddl)
        .writeStream.format("memory").queryName("cdf_nulls")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (
            (r["_change_type"], r.id, r["_tag"], r.val)
            for r in spark.table("cdf_nulls").collect()
        ),
        key=lambda t: (t[0], t[1], t[2] is not None, t[2] or "", t[3]),
    )
    assert got == [
        ("delete", 1, None, 10),
        ("insert", 1, None, 99),
        ("insert", 1, "x", 5),
    ]


def test_streaming_cdf_carries_typed_update_rows(spark, tmp_path):
    """An upsert commit's typed update_preimage/update_postimage rows
    flow through the streaming CDF source verbatim (served from the
    stored change files), with _commit_version provenance — Delta's
    readChangeFeed update typing on the stream surface."""
    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import stream_table_changes

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full(
        "t", spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ddl), None
    )
    cat.enable_versioning("t")  # v0
    cat.upsert_by_key(
        "t",
        spark.createDataFrame([(1, "a", 99), (3, "c", 30)], ddl),
        ["id"],
        None,
    )  # v1: one matched key (typed pair) + one new key (insert)

    st = stream_table_changes(spark, cat.warehouse_dir, "t", ddl)
    q = (
        st.writeStream.format("memory").queryName("cdf_typed")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r.id, r.val)
        for r in spark.table("cdf_typed").collect()
    )
    assert got == [
        (1, "insert", 3, 30),
        (1, "update_postimage", 1, 99),
        (1, "update_preimage", 1, 10),
    ]


def test_streaming_cdf_commit_timestamp_provenance(spark, tmp_path):
    """Every emitted change row carries _commit_timestamp == its commit's
    log timestamp (µs precision), on BOTH serving paths: stored change
    files (append commit) and the snapshot-diff fallback (full rewrite)."""
    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import stream_table_changes

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full("t", spark.createDataFrame([(1, "a", 10)], ddl), None)
    cat.enable_versioning("t")  # v0
    cat.write_append(
        "t", spark.createDataFrame([(2, "b", 20)], ddl), None
    )  # v1: change-file path
    cat.write_full(
        "t", spark.createDataFrame([(1, "a", 10)], ddl), None
    )  # v2: full rewrite -> snapshot-diff fallback
    log_ts = {e["version"]: e["ts"] for e in cat.history("t")}

    st = stream_table_changes(spark, cat.warehouse_dir, "t", ddl)
    q = (
        st.writeStream.format("memory").queryName("cdf_ts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = spark.table("cdf_ts").collect()
    assert {r["_commit_version"] for r in got} == {1, 2}
    for r in got:
        assert r["_commit_timestamp"] is not None
        assert abs(r["_commit_timestamp"].timestamp() - log_ts[r["_commit_version"]]) < 1e-3


def test_cdf_timestamp_bounds_match_version_bounds(spark, tmp_path):
    """Delta-compat startingTimestamp/endingTimestamp on the batch CDF
    reader: starting emits every commit at-or-after the timestamp,
    ending stops at the last commit at-or-before it — both equal to the
    corresponding version-bounded read; version+timestamp together is an
    error, and an endingTimestamp before the first commit raises."""
    import pytest as _pytest

    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import read_table_changes

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full("t", spark.createDataFrame([(1, "a", 10)], ddl), None)
    cat.enable_versioning("t")  # v0
    for i in (2, 3, 4):
        cat.write_append(
            "t", spark.createDataFrame([(i, "a", i * 10)], ddl), None
        )  # v1..v3
    ts = {e["version"]: e["ts"] for e in cat.history("t")}

    def ids(df):
        return sorted(r.id for r in df.collect())

    # starting exactly AT v2's commit ts -> v2 and v3 emitted (inclusive)
    got = read_table_changes(
        spark, cat.warehouse_dir, "t", ddl, starting_timestamp=ts[2]
    )
    want = read_table_changes(
        spark, cat.warehouse_dir, "t", ddl, starting_version=1
    )
    assert ids(got) == ids(want) == [3, 4]
    # just after v2's ts -> only v3
    got = read_table_changes(
        spark, cat.warehouse_dir, "t", ddl, starting_timestamp=ts[2] + 1e-6
    )
    assert ids(got) == [4]
    # ending at-or-before v2 -> v1..v2
    got = read_table_changes(
        spark, cat.warehouse_dir, "t", ddl, ending_timestamp=ts[2]
    )
    assert ids(got) == [2, 3]
    # both bound forms together is ambiguous (raw option level — the
    # read_table_changes helper itself prefers the timestamp form)
    from kin_data_pipeline_spark.streaming.cdf_source import (
        CatalogChangesDataSource,
    )

    spark.dataSource.register(CatalogChangesDataSource)
    with _pytest.raises(Exception, match="not both"):
        (
            spark.read.format("catalog_changes")
            .option("warehouse", cat.warehouse_dir)
            .option("table", "t")
            .option("schema_ddl", ddl)
            .option("startingVersion", 1)
            .option("startingTimestamp", str(ts[2]))
            .load()
            .collect()
        )
    with _pytest.raises(Exception, match="at or before"):
        read_table_changes(
            spark, cat.warehouse_dir, "t", ddl,
            ending_timestamp=ts[0] - 10,
        ).collect()


def test_streaming_cdf_starting_timestamp(spark, tmp_path):
    """The stream reader honors startingTimestamp: history before it is
    skipped, commits at-or-after it replay."""
    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import (
        CatalogChangesDataSource,
    )

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full("t", spark.createDataFrame([(1, "a", 10)], ddl), None)
    cat.enable_versioning("t")  # v0
    for i in (2, 3):
        cat.write_append(
            "t", spark.createDataFrame([(i, "a", i * 10)], ddl), None
        )  # v1, v2
    ts = {e["version"]: e["ts"] for e in cat.history("t")}
    spark.dataSource.register(CatalogChangesDataSource)
    st = (
        spark.readStream.format("catalog_changes")
        .option("warehouse", cat.warehouse_dir)
        .option("table", "t")
        .option("schema_ddl", ddl)
        .option("startingTimestamp", str(ts[2]))
        .load()
    )
    q = (
        st.writeStream.format("memory").queryName("cdf_ts_start")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = spark.table("cdf_ts_start").collect()
    assert sorted(r.id for r in got) == [3]
    assert {r["_commit_version"] for r in got} == {2}


def test_cdf_starting_timestamp_after_vacuum_serves_earliest_retained(
    spark, tmp_path
):
    """A startingTimestamp predating every RETAINED commit must not
    silently skip the earliest retained commit's changes (Delta errors
    rather than dropping commits). When that commit's change span is
    servable from its stored change files, the reader anchors one before
    it and emits it; when it is not (a full-rewrite commit whose diff
    needs the vacuumed predecessor snapshot), the reader raises."""
    import pytest as _pytest

    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import read_table_changes

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full("t", spark.createDataFrame([(1, "a", 10)], ddl), None)
    cat.enable_versioning("t")  # v0
    for i in (2, 3):  # v1, v2: appends — changes stored per commit
        cat.write_append(
            "t", spark.createDataFrame([(i, "a", i * 10)], ddl), None
        )
    ts = {e["version"]: e["ts"] for e in cat.history("t")}
    cat.vacuum_versions("t", keep_last=2)  # log now starts at v1

    got = read_table_changes(
        spark, cat.warehouse_dir, "t", ddl, starting_timestamp=ts[0] - 10
    )
    # v1 (the earliest retained commit) is emitted, not silently skipped
    assert sorted(r.id for r in got.collect()) == [2, 3]
    assert {r["_commit_version"] for r in got.collect()} == {1, 2}

    # earliest retained commit with NO stored change rows (a full
    # rewrite): its diff would need the vacuumed v1 snapshot → raise
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    cat2.write_full("u", spark.createDataFrame([(1, "a", 10)], ddl), None)
    cat2.enable_versioning("u")  # v0
    cat2.write_append(
        "u", spark.createDataFrame([(2, "a", 20)], ddl), None
    )  # v1
    cat2.write_full(
        "u", spark.createDataFrame([(9, "z", 90)], ddl), None
    )  # v2: full rewrite, snapshot-diff fallback only
    cat2.write_append(
        "u", spark.createDataFrame([(3, "a", 30)], ddl), None
    )  # v3
    uts = {e["version"]: e["ts"] for e in cat2.history("u")}
    cat2.vacuum_versions("u", keep_last=2)  # log starts at v2 (no changes)
    with _pytest.raises(Exception, match="earliest retained"):
        read_table_changes(
            spark, cat2.warehouse_dir, "u", ddl,
            starting_timestamp=uts[0] - 10,
        ).collect()
