"""``kin_daily``: a cron history of the kin warehouse with API reads.

A full refresh of the production IVM subset of the kin DAG through
``BACKFILL_DATE`` (the backfill), then one incremental tick per new day up
to ``FINAL``. After each tick commits, the marts are republished with
``Catalog.publish_views`` and a closed loop of seeded API reads runs
through ``spark.sql``: mart point lookups by (date, app), fact probes by
``id`` (the bloom-filter path) and 7-day range scans. Reads continue after
the last tick until the run's seconds are used.

Checks, outside the timed region: the stored marts equal the DuckDB oracle
SQL of their registered ``kin_*`` queries, the IVM marts equal their
builder twins on the shared columns, and every read returns rows.
"""

from __future__ import annotations

import datetime
import random
import statistics
import time

from harness import (
    DATA,
    JobCounter,
    Reader,
    Run,
    calibrate,
    dir_bytes,
    e2e_metrics,
    equal_to_oracle,
    frame_rows,
    input_bytes,
    jvm_peak_rss_mb,
    log,
    measured,
    timed_setup,
    trace_builders,
    wall_metrics,
)

#: the production IVM path: the versioned fact (a builder refreshed by
#: watermark append), the app dim, two maintained marts and a clone
MODELS = (
    "fact_kin_transaction",
    "dim_kin_app",
    "daily_kin_transactions",
    "daily_counts_by_amount",
    "daily_kin_transactions_clone",
)
BACKFILL_DATE = datetime.date(2024, 1, 29)
FINAL = datetime.date(2024, 1, 31)  # the registered kin oracles' run date
TICKS = [BACKFILL_DATE + datetime.timedelta(days=i)
         for i in range(1, (FINAL - BACKFILL_DATE).days + 1)]
INPUTS = ("events", "nation")
#: stored mart -> registered query whose oracle SQL it must equal
ORACLE = {
    "fact_kin_transaction": "kin_fact_transactions",
    "daily_kin_transactions": "kin_daily_transactions",
    "daily_counts_by_amount": "kin_daily_counts_by_amount",
}
IVM_TWINS = ("daily_kin_transactions", "daily_counts_by_amount")
READS_PER_TICK = 15
READ_KINDS = ("point", "probe", "range")
READ_WEIGHTS = (0.4, 0.4, 0.2)
PUBLISHED = ("fact_kin_transaction", "daily_kin_transactions")


def _build(run: Run, spark, data_dir: str, wh: str):
    from kin_data_pipeline_spark.models.pipeline import build_kin_models
    from kin_data_pipeline_spark.plans.engine import Catalog, Runner

    models = [m for m in build_kin_models(data_dir, ivm=True) if m.name in MODELS]
    if len(models) != len(MODELS):
        raise RuntimeError(f"kin DAG lacks {set(MODELS) - {m.name for m in models}}")
    cat = Catalog(spark, wh)
    return trace_builders(run, models), cat, Runner(spark, cat)


def _prepare(run: Run):
    def prepare(spark, i):
        from kin_data_pipeline_spark.sources.catalog import load_table

        state = _build(run, spark, DATA, f"{run.dir}/wh{i}")
        load_table(spark, DATA, "events").count()  # first scan of the input
        return state

    return prepare


def _read_keys(spark):
    keys = sorted((r[0], r[1]) for r in spark.sql(
        "SELECT DISTINCT date_key, app_id FROM daily_kin_transactions").collect())
    ids = sorted(r[0] for r in spark.sql("SELECT id FROM fact_kin_transaction").collect())
    return keys, ids


def _reads(keys, ids):
    """The API read mix over the published views."""

    def make(rng: random.Random):
        kind = rng.choices(READ_KINDS, READ_WEIGHTS)[0]
        d, app = rng.choice(keys)
        if kind == "point":
            return (f"SELECT * FROM daily_kin_transactions "
                    f"WHERE date_key = DATE '{d}' AND app_id = {app}"), 1
        if kind == "probe":
            return f"SELECT * FROM fact_kin_transaction WHERE id = '{rng.choice(ids)}'", 1
        lo = d - datetime.timedelta(days=6)
        return (f"SELECT app_id, SUM(daily_total_transactions) AS n "
                f"FROM daily_kin_transactions "
                f"WHERE date_key BETWEEN DATE '{lo}' AND DATE '{d}' GROUP BY app_id"), 1

    return make


def run_workload(run: Run) -> dict:
    spark, (models, cat, runner), setup_s = timed_setup(run, _prepare(run))
    jobs = JobCounter(spark) if run.tracer else None
    reader = Reader(run, spark)
    refresh, ticks, results = [], [], []

    t_start = time.perf_counter()
    deadline = t_start + run.seconds
    with measured(run, "backfill", refresh):
        results += runner.run(models, BACKFILL_DATE, "full_refresh")
        cat.publish_views(list(PUBLISHED))
    run.op(True)
    with run.phase("read_keys"):
        make = _reads(*_read_keys(spark))
    for day in TICKS:
        with measured(run, "tick", ticks):
            results += runner.run(models, day, "incremental")
            cat.publish_views(list(PUBLISHED))
        run.op(True)
        reader.burst(READS_PER_TICK, make)
    while time.perf_counter() < deadline:
        reader.burst(READS_PER_TICK, make, fill=True)
    t_end = time.perf_counter()
    run.context["models"] = [(r.model, r.action, r.duration_sec) for r in results]
    run.context["ops_wall_cpu"] = {"backfill": refresh, "ticks": ticks}
    rss = jvm_peak_rss_mb(spark)
    if jobs:
        jobs.sample()
    run.context["calibration"] = calibrate(spark)

    wh_bytes, _ = dir_bytes(cat.warehouse_dir)
    _check(run, spark, cat)
    log(f"backfill {refresh[0][0]:.2f}s/{refresh[0][1]:.2f} cpu-s, ticks "
        f"{[(round(w, 2), round(c, 2)) for w, c in ticks]}, {len(reader.ms)} reads "
        f"p50 {statistics.median(reader.ms):.1f}ms, wall {t_end - t_start:.1f}s, "
        f"setup {setup_s:.2f}s")
    return {
        "e2e": e2e_metrics(setup_s, refresh[0], ticks, reader),
        "wall": wall_metrics(refresh[0], ticks, reader),
        "spark": spark,
        "window": (t_start, t_end),
        "results": results,
        "jobs": jobs,
        "ops": 1 + len(ticks) + len(reader.ms),
        "reader": reader,
        "rss_mb": rss,
        "bytes_per_input_byte": wh_bytes / input_bytes(INPUTS),
    }


def _check(run: Run, spark, cat) -> None:
    from kin_data_pipeline_spark.models import kin as K
    from kin_data_pipeline_spark.queries import QUERIES

    for mart, query in ORACLE.items():
        run.check(f"oracle:{mart}", lambda mart=mart, query=query: equal_to_oracle(
            cat.table(mart), QUERIES[query].oracle, INPUTS))
    for mart in IVM_TWINS:
        def twin(mart=mart):
            stored = cat.table(mart)
            built = getattr(K, mart)(spark, DATA, FINAL)
            shared = sorted(set(stored.columns) & set(built.columns))
            return len(shared) > 2 and frame_rows(stored, shared) == frame_rows(built, shared)

        run.check(f"ivm_twin:{mart}", twin)
