"""Source/sink surface tests: JSON dimension seeding (S3/E2), export
watermarking (S8/E3), the raw Kin adapters' invariants."""

from __future__ import annotations

import datetime
import json

from pyspark.sql import functions as F

from kin_data_pipeline_spark.sources.export import apply_export_watermark, export_jdbc
from kin_data_pipeline_spark.sources.json_api import (
    dim_from_json_payload,
    timeseries_from_records,
)
from kin_data_pipeline_spark.sources.kin_adapter import (
    raw_kincreateaccount,
    raw_kintransaction,
)

RUN = datetime.date(2024, 1, 31)

def test_dim_from_json_payload_flattens_and_trims(spark):
    payload = json.dumps(
        [
            {"index": 1, "name": '"Kik"', "status": "live", "public_wallet": "w1"},
            {"index": 2, "name": "Peerbet", "status": "dead", "public_wallet": "w2"},
        ]
    )
    dim = dim_from_json_payload(spark, payload, RUN)
    rows = {r["id"]: r for r in dim.collect()}
    assert rows[1]["name"] == "Kik"  # quote-trim (reference :148)
    assert rows[2]["status"] == "dead"
    assert rows[1]["created_date"] == RUN and rows[1]["updated_date"] is None

def test_timeseries_source_shifts_and_drops_current_day(spark):
    ms = lambda d: int(datetime.datetime(2024, 1, d).timestamp() * 1000)  # noqa: E731
    recs = [
        {"timestamp": ms(30), "prices": 1.0, "market_caps": 10.0, "total_volumes": 5.0},
        {"timestamp": ms(31), "prices": 2.0, "market_caps": 20.0, "total_volumes": 6.0},
    ]
    out = timeseries_from_records(spark, recs, datetime.date(2024, 1, 30))
    rows = out.collect()
    assert len(rows) == 1  # in-progress day dropped
    assert rows[0]["date_key"] == datetime.date(2024, 1, 29)  # −1 day shift

def test_export_watermark_append(spark, sf_dir):
    from kin_data_pipeline_spark.sources.catalog import load_table

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wm = datetime.date(2024, 1, 20)
    out = apply_export_watermark(daily, "date", wm)
    assert out.filter(F.col("date") <= F.lit(wm)).count() == 0
    assert out.count() == daily.filter(F.col("date") > F.lit(wm)).count()
    # dry-run export returns the filtered frame without a JDBC target
    dry = export_jdbc(daily, None, "export_daily", watermark_col="date", watermark=wm)
    assert dry.count() == out.count()

def test_raw_adapters_inject_duplicates_and_sentinels(spark, sf_dir):
    txn = raw_kintransaction(spark, sf_dir)
    assert txn.count() > txn.select("id").distinct().count()  # dup ids exist
    types = {r["transactiontype"] for r in txn.select("transactiontype").distinct().collect()}
    assert "<NA>" in types and {"1", "2", "3"} <= types
    cr = raw_kincreateaccount(spark, sf_dir)
    per_tx = cr.groupBy("tx_id").count().filter(F.col("count") > 1)
    assert per_tx.count() > 0  # multi-instruction creates exist

def test_timestamp_columns_normalized_to_ltz(spark, sf_dir):
    """Canary for producer-side timestamp drift: the r1→r2 testdata
    regeneration silently switched events.ts from TIMESTAMP(NANOS) to
    no-timezone micros, which (a) collapsed the streaming source's windows
    to one day and (b) surfaced TIMESTAMP_NTZ in batch reads, breaking
    epoch casts. Pin the contract instead of the encoding: whatever the
    parquet footer says, every timestamp column loads as TimestampType
    (LTZ) and spans the corpus's real day range."""
    from pyspark.sql.types import TimestampType

    from kin_data_pipeline_spark.sources.catalog import TABLES, load_table

    for tbl in TABLES:
        df = load_table(spark, sf_dir, tbl)
        for f in df.schema.fields:
            if "timestamp" in f.dataType.simpleString():
                assert isinstance(f.dataType, TimestampType), (
                    f"{tbl}.{f.name} is {f.dataType.simpleString()}, want LTZ timestamp"
                )
    ev = load_table(spark, sf_dir, "events")
    n_days = ev.select(F.to_date("ts")).distinct().count()
    assert n_days >= 28, f"events.ts spans {n_days} days — unit misread collapses this"
    # epoch cast (the op NTZ forbids) stays available to sessionization
    assert ev.select(F.col("ts").cast("long")).first()[0] > 1_600_000_000

def test_streaming_source_agrees_with_batch_on_days(spark, sf_dir):
    """The streaming reader must see the same event-time distribution as the
    batch reader regardless of the parquet timestamp encoding."""
    from kin_data_pipeline_spark.sources.catalog import load_table
    from kin_data_pipeline_spark.streaming import stream_events_from_parquet

    batch_days = (
        load_table(spark, sf_dir, "events").select(F.to_date("ts").alias("d")).distinct()
    )
    stream = stream_events_from_parquet(spark, sf_dir)
    q = (
        stream.select(F.to_date("ts").alias("d"))
        .writeStream.format("memory")
        .queryName("__ts_canary")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {r["d"] for r in spark.table("__ts_canary").select("d").distinct().collect()}
    want = {r["d"] for r in batch_days.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Session frame cache: a substrate is cached when a second consumer asks.

def test_frame_cache_first_request_registers_uncached(spark):
    from kin_data_pipeline_spark.sources.catalog import frame_cache_names, frame_cached

    df = frame_cached(spark, "__once", "k1", build=lambda: spark.range(5))
    assert not df.is_cached
    assert "__once" in frame_cache_names(spark)


def test_frame_cache_second_request_caches_the_same_frame(spark):
    from kin_data_pipeline_spark.sources.catalog import frame_cached

    builds = []

    def build():
        builds.append(1)
        return spark.range(5)

    first = frame_cached(spark, "__twice", "k1", build=build)
    second = frame_cached(spark, "__twice", "k1", build=build)
    assert second is first and second.is_cached
    assert len(builds) == 1
    assert second.count() == 5


def test_frame_cache_nondeterministic_build_cached_on_first_request(spark):
    from kin_data_pipeline_spark.sources.catalog import frame_cached

    df = frame_cached(
        spark, "__rand", "k1", build=lambda: spark.range(5).withColumn("r", F.rand())
    )
    assert df.is_cached


def test_cached_aggregate_coalesces_to_its_size(spark):
    """AQE sizes the shuffle inside a cached plan as it does any other: a
    cached groupBy over a few rows holds fewer partitions than
    spark.sql.shuffle.partitions once materialized, so every stage that
    reads it runs that many tasks."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.range(20).groupBy((F.col("id") % 3).alias("k")).count().cache()
    try:
        assert df.count() == 3
        assert df.rdd.getNumPartitions() < n
    finally:
        df.unpersist()


def test_frame_lineage_replayed_on_registry_hit(spark):
    """A plan a checkpoint hides, registered inside a substrate build, is
    reported by a later record that only hits the registry; outside any
    record or build its frame is never built."""
    from kin_data_pipeline_spark.sources.catalog import (
        frame_cache_record,
        frame_cached,
        frame_lineage,
    )

    hidden_builds = []

    def hidden():
        hidden_builds.append(1)
        return spark.range(3).selectExpr("id * 7 AS x")

    frame_lineage(spark, "__hidden", hidden)
    assert hidden_builds == []

    def build():
        frame_lineage(spark, "__hidden", hidden)
        return spark.range(3)

    frame_cached(spark, "__with_lineage", "k1", build=build)
    with frame_cache_record(spark) as rec:
        frame_cached(spark, "__with_lineage", "k1", build=build)
    assert hidden_builds == [1]
    assert "__with_lineage" in rec
    assert [n for n in rec if n.startswith("__hidden ")]


def test_frame_cache_clear_unpersists(spark):
    from kin_data_pipeline_spark.sources.catalog import (
        frame_cache_clear,
        frame_cache_names,
        frame_cached,
    )

    frame_cached(spark, "__cleared", "k1", build=lambda: spark.range(5))
    df = frame_cached(spark, "__cleared", "k1", build=lambda: spark.range(5))
    assert df.is_cached
    frame_cache_clear(spark)
    assert not df.is_cached
    assert "__cleared" not in frame_cache_names(spark)


def test_runner_tick_on_a_lone_fact_consumer_appends_the_day_uncached(
    spark, sf_dir, tmp_path
):
    """The Runner is the fact's only consumer on a tick, so its frame stays
    uncached and the watermark filter reaches the raw scan; the append is
    exactly the new day's rows."""
    from kin_data_pipeline_spark.models import kin as K
    from kin_data_pipeline_spark.models.pipeline import build_kin_models
    from kin_data_pipeline_spark.plans.engine import Catalog, Runner
    from kin_data_pipeline_spark.sources import catalog as src

    backfill, tick = datetime.date(2024, 1, 20), datetime.date(2024, 1, 21)
    src.frame_cache_clear(spark)  # the tick's key is requested here first
    models = [
        m for m in build_kin_models(sf_dir, ivm=True)
        if m.name == "fact_kin_transaction"
    ]
    cat = Catalog(spark, str(tmp_path / "wh"))
    runner = Runner(spark, cat)
    runner.run(models, backfill, "full_refresh")
    (res,) = runner.run(models, tick, "incremental")

    day = K._fact_kin_transaction(spark, sf_dir, tick).filter(
        F.col("date_key") == F.lit(backfill)
    )
    assert res.action == "incremental"
    assert res.rows_written == day.count() > 0
    stored = cat.table("fact_kin_transaction")
    assert stored.filter(F.col("date_key") == F.lit(backfill)).count() == res.rows_written
    key = (spark.sparkContext.applicationId, "fact_kin_transaction", sf_dir, str(tick))
    assert not src._FRAME_CACHE[key].is_cached
