"""Catalog storage-layout pins: the date-partitioned layout must actually
prune partitions on date-filtered reads (the property the 100 TB design
leans on), and appends may evolve the schema (new columns null-fill old
partitions via the schema recorded in the log)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from kin_data_pipeline_spark.plans import txlog
from kin_data_pipeline_spark.plans.engine import Catalog

def _mk(spark, days, extra=False):
    rows = []
    for d in range(days):
        day = datetime.date(2024, 1, 1) + datetime.timedelta(days=d)
        for i in range(5):
            r = {"date_key": day, "k": d * 5 + i, "v": float(i)}
            if extra:
                r["tag"] = f"t{i}"
            rows.append(r)
    return spark.createDataFrame(rows)

def test_date_filter_prunes_partitions(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full("t", _mk(spark, 10), date_col="date_key")
    df = cat.table("t").filter(F.col("date_key") == F.lit("2024-01-03"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "date_key" in pf, plan
    # the pruned read returns exactly the one matching partition
    assert df.count() == 5

def test_append_evolves_schema_with_null_fill(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write_full("t", _mk(spark, 2), date_col="date_key")
    cat.write_append("t", _mk(spark, 2, extra=True).filter(F.col("date_key") > F.lit("2024-01-01")), date_col="date_key")
    out = cat.table("t")
    assert "tag" in out.columns  # the log carries the evolved schema
    old = out.filter(F.col("date_key") == F.lit("2024-01-01"))
    assert old.filter(F.col("tag").isNull()).count() == old.count()
    new = out.filter((F.col("date_key") == F.lit("2024-01-02")) & F.col("tag").isNotNull())
    assert new.count() == 5

def test_bloom_filter_declaration_writes_bitsets_and_survives_append(spark, tmp_path):
    """Model.bloom_filter_on: the written files must actually carry the
    bloom bitsets (observable as a material file-size delta for the same
    data — parquet stores the filter inline), reads must be unchanged, and
    the declaration must hold across the incremental-append path (each
    file carries its own filter, so append composes — unlike bucketing or
    z-order which require full rewrites)."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from kin_data_pipeline_spark.plans.engine import Catalog

    df = spark.range(100_000).select(
        F.col("id"),
        F.col("id").cast("string").alias("wallet"),
        (F.col("id") % 7).alias("v"),
    )
    plain = Catalog(spark, str(tmp_path / "plain"))
    bloomed = Catalog(spark, str(tmp_path / "bloomed"))
    plain.write_full("t", df, date_col=None)
    bloomed.write_full("t", df, date_col=None, bloom_cols=("wallet",))

    size = lambda cat: sum(
        os.path.getsize(urlparse(f).path) for f in cat.table("t").inputFiles()
    )
    assert size(bloomed) > size(plain) * 1.2, (size(bloomed), size(plain))
    assert (
        bloomed.table("t").orderBy("id").collect()
        == plain.table("t").orderBy("id").collect()
    )

    # append path: the declaration is INHERITED from the table's log
    # (no bloom args here — streaming micro-batch ingestion appends through
    # exactly this path), and the appended files must actually carry
    # bitsets: the bloomed catalog's append delta materially exceeds the
    # plain catalog's delta for identical data
    extra = spark.range(100_000, 120_000).select(
        F.col("id"),
        F.col("id").cast("string").alias("wallet"),
        (F.col("id") % 7).alias("v"),
    )
    before_b, before_p = size(bloomed), size(plain)
    bloomed.write_append("t", extra, date_col=None)
    plain.write_append("t", extra, date_col=None)
    assert bloomed.table("t").count() == plain.table("t").count() == 120_000
    delta_b = size(bloomed) - before_b
    delta_p = size(plain) - before_p
    assert delta_b > delta_p * 1.2, (delta_b, delta_p)

    # compaction rewrites every file; the recorded declaration is inherited
    # by default, so a plain maintenance compact() keeps the bitsets
    bloomed.compact("t", None)
    plain.compact("t", None)
    assert size(bloomed) > size(plain) * 1.2, (size(bloomed), size(plain))
    assert bloomed.table("t").count() == 120_000

    # upsert is a whole-table rewrite; it must inherit the declaration too
    upd = spark.range(0, 1000).select(
        F.col("id"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("wallet"),
        F.lit(99).alias("v"),
    )
    bloomed.upsert_by_key("t", upd, ["id"], date_col=None)
    plain.upsert_by_key("t", upd, ["id"], date_col=None)
    assert bloomed.table("t").count() == plain.table("t").count() == 120_000
    assert size(bloomed) > size(plain) * 1.2, (size(bloomed), size(plain))

    # a typo'd declaration must fail loudly, not silently write no bitsets
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in"):
        bloomed.write_full("t2", df, date_col=None, bloom_cols=("wallet_typo",))

def test_bloom_declaration_is_a_table_property(spark, tmp_path):
    """The bloom declaration is recorded in the table's log: an inherit-
    path write keeps it, and an explicit empty declaration clears it for
    every later write (a declaration can always be made again)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(100).select(
        F.col("id"), F.col("id").cast("string").alias("wallet")
    )
    bloom = lambda: txlog.tip(cat.path("t"))["props"]["bloom"]
    cat.write_full("t", df, date_col=None, bloom_cols=("wallet",))
    cat.write_append("t", df, date_col=None)  # inherit path
    assert bloom() == ["wallet"]
    cat.write_full("t", df, date_col=None, bloom_cols=())
    cat.write_append("t", df, date_col=None)
    assert bloom() == []
    assert cat.table("t").count() == 200

def test_inherited_bloom_cols_validated_against_frame(spark, tmp_path):
    """The inherit path applies the same existence check as the explicit
    one: after a schema change, recorded columns absent from the frame are
    dropped for that write (with a warning) instead of parquet silently
    writing no bitsets — and the recorded declaration survives for when
    the column returns."""
    import warnings as _w

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(100).select(
        F.col("id"), F.col("id").cast("string").alias("wallet")
    )
    cat.write_full("t", df, date_col=None, bloom_cols=("wallet",))
    renamed = df.withColumnRenamed("wallet", "account")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        cat.write_full("t", renamed, date_col=None)  # inherit: 'wallet' gone
    assert any("absent from the frame" in str(c.message) for c in caught)
    # declaration is kept, not silently rewritten
    assert txlog.tip(cat.path("t"))["props"]["bloom"] == ["wallet"]
