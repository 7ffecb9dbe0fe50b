"""Parquet table catalog over the driver testdata layout.

Mirrors the reference's source surface (SURVEY.md §2.1 S1/S2: raw event
scans are plain table reads — ``fact_kin_transaction.sql:9``), expressed as
``spark.read.parquet`` so Catalyst gets predicate pushdown + column pruning
for free. At 100 TB these reads become partitioned-parquet/Delta scans with
partition pruning on the date key; the API here is layout-agnostic.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def _timestamp_cols(path: str) -> tuple[list[str], list[str]]:
    """Classify parquet timestamp columns from the footer (footer-only read;
    negligible driver cost). Returns (nanos_cols, naive_cols):

    - ``nanos_cols``: TIMESTAMP(NANOS) — Spark's reader rejects them
      outright, so they are read as raw nanosecond longs and rebuilt.
    - ``naive_cols``: no-timezone timestamps Spark would surface as
      TIMESTAMP_NTZ, which breaks LTZ-only operations (epoch casts) and
      varies with the producer. Both classes are normalized to TimestampType
      so the engine's public timestamp semantics don't depend on how the
      upstream writer happened to encode the column."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    schema = pq.read_schema(path)
    nanos = [
        f.name
        for f in schema
        if pt.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    naive = [
        f.name
        for f in schema
        if pt.is_timestamp(f.type) and f.type.unit != "ns" and f.type.tz is None
    ]
    return nanos, naive

# Each file's timestamp classes and Spark-inferred schema, keyed by (app,
# path, mtime, size). Without a schema `spark.read.parquet` runs a
# footer-reading Spark job on every call, and query builders load the same
# few tables hundreds of times per session; the file's own identity in the
# key means a rewritten file is re-inferred.
_READ_SCHEMAS: dict[tuple, tuple] = {}

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Lazy: no action is triggered.

    TIMESTAMP(NANOS) parquet columns (e.g. ``events.ts``) are transparently
    converted to TimestampType at microsecond precision — the same
    truncation DuckDB applies, keeping oracle comparisons aligned.
    """
    # Pin UTC even on caller-provided sessions: timestamp→date truncation is
    # session-TZ-dependent and the oracle (DuckDB) is UTC-naive.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    k = (spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)
    ns_cols, ntz_cols, schema = _READ_SCHEMAS.get(k) or (*_timestamp_cols(path), None)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        df = spark.read.parquet(path)
        _READ_SCHEMAS[k] = (ns_cols, ntz_cols, df.schema)
    else:
        df = spark.read.schema(schema).parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for c in ntz_cols:
        # NTZ→LTZ under the pinned UTC session: identical wall-clock values,
        # but the column supports the full TimestampType surface.
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df

# ---------------------------------------------------------------------------
# Session-scoped frame cache.
#
# In production each of these frames is a materialized warehouse table the
# DAG runner (plans/engine.py) writes once per run; when the models are
# instead evaluated ad hoc (driver correctness pass, bench, notebooks) the
# shared substrates — fact scans, price dims, activity observations — would
# be recomputed by every downstream query. This registry gives the ad-hoc
# path the same reuse the warehouse gives the scheduled path, but a frame
# is only `.cache()`d once a SECOND consumer asks for it: a lone consumer
# (the Runner's build of a fact, whose watermark filter must push through
# the projection and dedup down to the raw scan) plans against the source,
# because a filter above an InMemoryRelation cannot push down and the cache
# would materialize the whole history to append one day.
# Keyed by Spark application id so a fresh session never sees stale frames.

_FRAME_CACHE: dict[tuple, DataFrame] = {}
_FRAME_CACHE_LOCK = threading.RLock()

def frame_cache_names(spark: SparkSession) -> set:
    """Names of the substrate frames registered for this Spark app — a
    read-only probe so the bench can attribute shared-substrate first-toucher
    costs to the query that triggered each build."""
    app_id = spark.sparkContext.applicationId
    with _FRAME_CACHE_LOCK:
        return {k[1] for k in _FRAME_CACHE if k[0] == app_id}

# Pre-truncation substrate plans, for the plan-fingerprint manifest
# (scripts/gen_plan_manifest.py): a truncate=True frame exposes only a
# LogicalRDD leaf downstream, so fingerprinting a consumer query would be
# blind to changes in the substrate's own logic without this side record.
_FRAME_SOURCE_FRAMES: dict[tuple, DataFrame] = {}

def frame_cache_clear(spark: SparkSession) -> None:
    """Drop this app's substrate registry and unpersist the cached frames
    it drops, so none stays pinned: the next request for any key builds it
    anew. Plans registered by ``frame_lineage`` stay: a frame cached
    outside the registry may still depend on them."""
    app_id = spark.sparkContext.applicationId
    with _FRAME_CACHE_LOCK:
        for k in [k for k in _FRAME_CACHE if k[0] == app_id]:
            df = _FRAME_CACHE.pop(k)
            if df.is_cached:
                df.unpersist()
            _FRAME_SOURCE_FRAMES.pop(k, None)
            _FRAME_DEPS.pop(k, None)

# Which substrates a query build depends on, for the plan fingerprint
# (queries/fingerprint.py), without clearing the registry: each key records
# the keys its own build requested, so a request that hits the registry
# still reports the key's whole dependency chain. Per thread: a concurrent
# build's requests never land in another thread's record.
_FRAME_DEPS: dict[tuple, tuple] = {}
_FRAME_TRACE = threading.local()

def _trace() -> threading.local:
    if not hasattr(_FRAME_TRACE, "builds"):
        _FRAME_TRACE.builds = []  # dep lists of the builds in progress
        _FRAME_TRACE.records = []  # open frame_cache_record() dicts
    return _FRAME_TRACE

def _note(record: dict, k: tuple) -> None:
    # dependencies first, each key once: the order a build from an empty
    # registry would register them in
    if k not in record:
        for d in _FRAME_DEPS.get(k, ()):
            _note(record, d)
        record[k] = None

@contextmanager
def frame_cache_record(spark: SparkSession):
    """Yield a dict that, once the block exits, maps the name of every
    substrate the block requested (directly or through another substrate's
    build, registered before or during the block) to the DataFrame as built
    (BEFORE cache/checkpoint wrapping)."""
    out: dict = {}
    record: dict = {}
    trace = _trace()
    trace.records.append(record)
    try:
        yield out
    finally:
        trace.records.pop()  # records nest, innermost first
        with _FRAME_CACHE_LOCK:
            out.update(
                (k[1], _FRAME_SOURCE_FRAMES[k])
                for k in record
                if k in _FRAME_SOURCE_FRAMES
            )

@contextmanager
def frame_cache_unrecorded():
    """Hide the block's substrate requests from open records and from the
    dependencies of an enclosing build: for a fixture a query builds once
    and then serves from its own cache, so the query's recorded inventory
    does not depend on which call built the fixture."""
    trace = _trace()
    saved = trace.builds, trace.records
    trace.builds, trace.records = [], []
    try:
        yield
    finally:
        trace.builds, trace.records = saved

def _purge_stopped_apps(app_id: str) -> None:
    # purge entries from STOPPED applications on insert: stale appId keys
    # are unreachable forever (the key embeds the appId) but would pin their
    # DataFrames + dead-JVM references for the process lifetime in a
    # long-lived host (test suite, notebook). Caller holds the lock.
    keys = {*_FRAME_CACHE, *_FRAME_SOURCE_FRAMES, *_FRAME_DEPS}
    for sk in [sk for sk in keys if sk[0] != app_id]:
        _FRAME_CACHE.pop(sk, None)
        _FRAME_SOURCE_FRAMES.pop(sk, None)
        _FRAME_DEPS.pop(sk, None)

def frame_cached(
    spark: SparkSession, name: str, *key, build, truncate: bool = False
) -> DataFrame:
    """Build once and reuse a DataFrame within one Spark app; cache it when
    a second consumer asks for it. Lock-guarded so concurrent DAG
    materialization (Runner.run_concurrent) never double-builds a shared
    substrate frame. Reentrant: substrate builders call other cached
    builders inside their ``build`` closure.

    The first request registers the built frame UNCACHED under its key; a
    second request for the key calls ``.cache()`` on that registered frame
    and returns the same object. A lone consumer therefore plans against
    the source: the Runner's watermark filter on a fact pushes through the
    projection and ``distinct()`` down to the raw scan, so a daily tick
    reads and shuffles one day, not the cached history. A frame whose
    analyzed plan is not deterministic (``rand()``, ``uuid()``, …) is
    cached on the first request, so all its consumers see one evaluation.

    ``truncate=True`` cuts the logical lineage at the substrate boundary
    (``localCheckpoint`` instead of ``cache``, on the first request): a
    ``.cache()`` frame keeps its full logical plan, so EVERY downstream
    action re-runs Catalyst analysis over the whole upstream tree even
    though execution hits the InMemoryRelation — for deep chains (the KRE
    payout cascade) that re-analysis costs seconds per consumer query.
    Checkpointing replaces the plan with a LogicalRDD, so consumers plan
    against a leaf. Use it for small, many-consumer substrates (day/app
    grain); keep ``cache`` for wide frames where losing size statistics
    could demote a broadcast. Lazy (``eager=False``): the first toucher
    pays materialization, same billing as the cache path."""
    k = (spark.sparkContext.applicationId, name, *key)
    with _FRAME_CACHE_LOCK:
        if k not in _FRAME_CACHE:
            _purge_stopped_apps(k[0])
            built = traced_request(k, build)
            _FRAME_SOURCE_FRAMES[k] = built
            if truncate:
                built = built.localCheckpoint(eager=False)
            elif not built._jdf.queryExecution().analyzed().deterministic():
                built.cache()
            _FRAME_CACHE[k] = built
        else:
            traced_request(k)
            if not truncate and not _FRAME_CACHE[k].is_cached:
                _FRAME_CACHE[k].cache()  # a second consumer: now worth keeping
        return _FRAME_CACHE[k]

def traced_request(k: tuple, build=None):
    """Trace one request for the cached frame keyed ``k`` (``k[0]`` is the
    app id) for the plan fingerprint: the enclosing build depends on ``k``,
    and every open ``frame_cache_record`` notes ``k`` with its dependency
    chain. On a miss, pass ``build``: it runs as ``k``'s build, so the keys
    it requests become ``k``'s dependencies, and its frame is returned.

    A cache kept outside this registry (``queries.llmops._cached_substrate``)
    calls this too: its own frames are not named in a record, but what
    their builds register (``frame_lineage``) is, on every later hit too."""
    trace = _trace()
    if trace.builds:
        trace.builds[-1].append(k)
    built = None
    if build is not None:
        trace.builds.append([])
        try:
            built = build()
        finally:
            _FRAME_DEPS[k] = tuple(trace.builds.pop())
    for record in trace.records:
        _note(record, k)
    return built

def frame_lineage(spark: SparkSession, name: str, build) -> None:
    """Record, for the plan fingerprint, what a checkpoint is about to hide.

    An operator that checkpoints its input mid-computation returns a frame
    whose plan reads only LogicalRDD leaves: neither the caller's input nor
    the operator's own logic before the checkpoint is in it. ``build()``
    returns a frame over the un-checkpointed input that stands in for both.
    It is registered like a substrate's pre-truncation plan, under ``name``
    plus a hash of its normalized plan (so two operator calls in one build
    never share a key): every open ``frame_cache_record`` reports it, and so
    does a later registry hit on the substrate whose build made the call.
    Outside any record or substrate build this is a no-op and ``build`` is
    not called, so only fingerprinting and substrate builds pay for the
    extra analysis."""
    trace = _trace()
    if not trace.builds and not trace.records:
        return
    # deferred: the fingerprint module imports this one
    from kin_data_pipeline_spark.queries.fingerprint import plan_digest

    df = build()
    k = (spark.sparkContext.applicationId, f"{name} {plan_digest(df)}")
    if trace.builds:
        trace.builds[-1].append(k)
    with _FRAME_CACHE_LOCK:
        if k not in _FRAME_SOURCE_FRAMES:
            _purge_stopped_apps(k[0])
            _FRAME_SOURCE_FRAMES[k] = df
        for record in trace.records:
            _note(record, k)

def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}

def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries work."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
