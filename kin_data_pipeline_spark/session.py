"""SparkSession factory tuned for this engine.

Defaults target local[N] test runs but every knob is chosen to scale to a
multi-executor cluster: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), UTC session timezone (deterministic vs the DuckDB
oracle — Spark timestamps are session-TZ, DuckDB's are UTC-naive), Arrow
enabled for the Pandas-UDF paths, and a broadcast threshold sized so the
dimension tables (region/nation/customer/supplier/part, and the reference's
``dim_kin_app``) always broadcast instead of shuffling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def get_spark(
    app_name: str = "kin-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster pass ``None`` and submit with ``--master``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic comparison with UTC-naive oracle engines.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Coalesce to the ADVISORY SIZE, not the core count: with the
        # default parallelismFirst=true AQE refuses to merge a shuffle
        # below defaultParallelism, so every small exchange runs one
        # sliver-task per core — measured 1.2-2.4x overhead per
        # aggregation/join query on this corpus, and the reason the r11
        # fleet ran FASTER at 8 cores than 32 (VERDICT r11 #2). With
        # byte-proportional coalescing the partitioning is data-derived at
        # every scale (a 100 TB shuffle still gets its thousands of
        # advisory-sized partitions). CPU-dense stages whose work dwarfs
        # their bytes (posting-list pair expansion, intersection verify)
        # pin their parallelism explicitly instead
        # (operators/dedup.py::_pin_expansion_parallelism).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # The same byte-proportional rule for CACHED plans. Spark defaults
        # this to false, so AQE never coalesces the shuffle inside a
        # .cache()/.persist() plan and a cached frame keeps
        # spark.sql.shuffle.partitions partitions for good (32 when
        # SPARK_GRAFT_CPUS is unset; thousands on a cluster). Every stage
        # and append downstream of it then runs that many tasks, however
        # few its rows: models/corpus.py::ingest_increment caches three
        # frames, and two 30-doc corpus micro-batches wrote 119 files
        # (23 with this setting) in perfbench corpus_release on 4 cores,
        # where the median increment_cpu_s fell from 20.9 to 9.9 CPU-s.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Scan split count follows input BYTES (maxPartitionBytes), not
        # the core count: the Spark default floors split count at
        # defaultParallelism, shredding small inputs into per-core
        # slivers (pure task overhead at local scale, irrelevant at
        # 100 TB where bytes/maxPartitionBytes >> cores either way).
        .config("spark.sql.files.minPartitionNum", "1")
        # Dims are small; broadcast them rather than shuffling the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas_udf / applyInPandas / toPandas paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Scan-task sizing: 128 MiB splits keep a task's working set well
        # inside executor memory at any corpus size (spill-aware default;
        # tune down for very wide rows, up for cold object stores).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # zstd parquet: ~25-35% smaller than snappy on text-heavy tables at
        # comparable scan speed — at 100 TB that is tens of TB of storage
        # and scan I/O saved on every full pass.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # ANSI off: the reference dialect (Snowflake) null-pads bad casts in
        # the '<NA>' sentinel path; we normalize explicitly instead.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Deployment-side conf injection (semicolon-separated k=v pairs):
    # lets a cluster profile add or override settings without code
    # changes — also how A/B conf experiments run against the unmodified
    # bench harness.
    for pair in os.environ.get("SPARK_GRAFT_SPARK_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
