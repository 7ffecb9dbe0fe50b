"""Benchmark entry point.

    python3 perfbench/run.py --workload kin_daily --seed 1 --seconds 30 --trace 0

Runs one workload in this process on a fresh Spark application (so the
session frame cache is cold, as on a cron invocation), checks its outputs
outside the timed region and prints one JSON line as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
layer functions are wrapped by ``tracer.py`` and the metrics are the
per-layer ones (the end-to-end figures of a traced run go to the run
context file, so tracing overhead can be read off against an untraced
run). See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = ("kin_daily", "corpus_release")

#: per-layer metrics printed by every traced run, in BENCHMARK.json order
PER_LAYER = (
    ("plans.engine.write_full.s", "s"),
    ("plans.engine.write_full.calls", "count"),
    ("plans.engine.write_append.s", "s"),
    ("plans.engine.write_append.calls", "count"),
    ("plans.engine.high_watermark.s", "s"),
    ("plans.engine.high_watermark.calls", "count"),
    ("plans.engine.table_changes.s", "s"),
    ("operators.incremental.s", "s"),
    ("plans.engine.model_s.full", "s"),
    ("plans.engine.model_s.incremental", "s"),
    ("plans.engine.model_s.ivm", "s"),
    ("plans.engine.model_s.clone", "s"),
    ("plans.engine.bytes_written", "bytes"),
    ("plans.engine.files_written", "count"),
    ("plans.guard.assert_scalable_plan.s", "s"),
    ("plans.guard.assert_scalable_plan.calls", "count"),
    ("plans.checks.assert_checks.s", "s"),
    ("plans.checks.assert_checks.calls", "count"),
    ("models.builder.s", "s"),
    ("sources.catalog.load_table.s", "s"),
    ("sources.catalog.load_table.calls", "count"),
    ("sources.catalog.frame_cache.builds", "count"),
    ("sources.catalog.frame_cache.hit_ratio", "ratio"),
    ("operators.dedup.connected_components_star.s", "s"),
    ("models.corpus.ingest_increment.s", "s"),
    ("models.corpus.ingest_increment.calls", "count"),
    ("models.corpus.ingest.appended_ratio", "ratio"),
    ("streaming.ingest.micro_batches", "count"),
    ("session.sql.analyze_ms", "ms"),
    ("session.sql.collect_ms", "ms"),
    ("session.jobs_per_op", "count"),
    ("session.stages_per_op", "count"),
    ("session.tasks_per_op", "count"),
    ("session.tasks_failed", "count"),
    ("wall.refresh_s", "s"),
    ("wall.increment_s", "s"),
    ("wall.read_ms_p50", "ms"),
    ("wall.reads", "count"),
    ("session.jvm_peak_rss_mb", "MB"),
    ("plans.engine.warehouse_bytes_per_input_byte", "ratio"),
    ("trace.timed_wall_s", "s"),
    ("trace.uncovered_s", "s"),
    ("trace.uncovered_ratio", "ratio"),
)


def layer_metrics(run: harness.Run, out: dict) -> dict:
    t, counts = run.tracer, run.counts
    lo, hi = out["window"]
    summ = t.summary((lo, hi))

    def s(name):
        return summ.get(name, {}).get("s", 0.0)

    def calls(name):
        return summ.get(name, {}).get("calls", 0)

    v: dict[str, float] = {}
    for name in ("plans.engine.write_full", "plans.engine.write_append",
                 "plans.engine.high_watermark", "plans.guard.assert_scalable_plan",
                 "plans.checks.assert_checks", "sources.catalog.load_table",
                 "models.corpus.ingest_increment"):
        v[f"{name}.s"] = s(name)
        v[f"{name}.calls"] = calls(name)
    v["plans.engine.table_changes.s"] = s("plans.engine.table_changes")
    # union, not sum: one maintain_* may call another
    v["operators.incremental.s"] = t.covered_time({"operators.incremental"}, (lo, hi))
    v["operators.dedup.connected_components_star.s"] = s(
        "operators.dedup.connected_components_star")
    v["models.builder.s"] = t.covered_time({"models.builder"}, (lo, hi))
    for action in ("full", "incremental", "ivm", "clone"):
        v[f"plans.engine.model_s.{action}"] = sum(
            r.duration_sec or 0.0 for r in out["results"] if r.action == action)
    v["plans.engine.bytes_written"] = counts["bytes_written"]
    v["plans.engine.files_written"] = counts["files_written"]
    looked = counts["frame_builds"] + counts["frame_hits"]
    v["sources.catalog.frame_cache.builds"] = counts["frame_builds"]
    v["sources.catalog.frame_cache.hit_ratio"] = counts["frame_hits"] / looked if looked else 0.0
    ingest = out.get("ingest", {})
    v["models.corpus.ingest.appended_ratio"] = (
        ingest["appended"] / ingest["arrived"] if ingest.get("arrived") else 0.0)
    v["streaming.ingest.micro_batches"] = ingest.get("batches", 0)
    reader = out["reader"]
    v["session.sql.analyze_ms"] = statistics.median(reader.analyze_ms)
    v["session.sql.collect_ms"] = statistics.median(reader.collect_ms)
    jobs = out["jobs"].totals
    for k in ("jobs", "stages", "tasks"):
        v[f"session.{k}_per_op"] = jobs[k] / out["ops"]
    v["session.tasks_failed"] = jobs["tasks_failed"]
    v.update({k: val for k, (val, _unit) in out["wall"].items()})
    v["session.jvm_peak_rss_mb"] = out["rss_mb"]
    v["plans.engine.warehouse_bytes_per_input_byte"] = out["bytes_per_input_byte"]
    layers = {n for n in {sp[1] for sp in t.spans} if not n.startswith("bench.")}
    wall = hi - lo
    uncovered = wall - t.covered_time(layers, (lo, hi))
    v["trace.timed_wall_s"] = wall
    v["trace.uncovered_s"] = uncovered
    v["trace.uncovered_ratio"] = uncovered / wall
    run.context["silent_layers"] = t.silent()
    run.context["layers"] = summ
    return {name: (v[name], unit) for name, unit in PER_LAYER}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test lives at the root of the checkout
    sys.path.insert(0, harness.ROOT)
    import kin_data_pipeline_spark  # noqa: F401 — fail fast without the program

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    harness.prepare_env(run.dir)
    if run.tracer:
        harness.install_layers(run)
    if args.workload == "kin_daily":
        import kin_daily as workload
    else:
        import corpus_release as workload
    out = workload.run_workload(run)
    metrics = out["e2e"]
    run.context["wall"] = out["wall"]
    if run.tracer:
        run.context["e2e"] = metrics
        metrics = layer_metrics(run, out)
    line = run.finish(metrics)
    harness.stop_session(out["spark"])
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
