"""Shared pieces of the benchmark workloads: the per-run state and result
line, the repeated session set-up, the calibration probe, Spark job
counters, JVM peak RSS, the DuckDB oracle compare and the traced-run layer
installation.

Everything a run writes goes under ``.perfbench_out/`` at the root of the
checkout: warehouses, Spark scratch space, the span file and the run
context. The warehouse and scratch space are removed when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
OUT = os.path.join(ROOT, ".perfbench_out")

#: set-up rounds per run; ``setup_s`` is the median of their CPU seconds
SETUP_ROUNDS = 3


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Keep every scratch file of Python, the JVM and Spark in the run
    directory, and size the driver for a shared box."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


class Run:
    """One benchmark run: counters, timed phases and the result line."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.run_id = f"{workload}-s{seed}-p{os.getpid()}"
        self.dir = os.path.join(OUT, self.run_id)
        self.attempted = 0
        self.failed = 0
        self.context: dict = {"workload": workload, "seed": seed, "seconds": seconds}
        self.tracer = None
        self.counts: dict[str, int] = {}
        if trace:
            from tracer import Tracer

            self.tracer = Tracer(self.run_id)

    def layer(self, name: str):
        """A span in the traced run, a no-op otherwise."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def phase(self, name: str):
        """A span around one phase of the benchmark itself."""
        return self.layer(f"bench.{name}")

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log("FAILED", what)

    def check(self, name: str, fn) -> bool:
        """Run one output check outside the timed region; a raise or a
        False counts as a failed op."""
        try:
            ok = bool(fn())
            detail = ""
        except Exception as exc:  # noqa: BLE001 — a check failure is a result
            ok, detail = False, f"{type(exc).__name__}: {exc}"
        self.op(ok, f"check {name} {detail}")
        self.context.setdefault("checks", {})[name] = ok
        return ok

    def finish(self, metrics: dict[str, tuple[float, str]]) -> str:
        """Write the span and context files, drop the warehouse and return
        the result line."""
        os.makedirs(OUT, exist_ok=True)
        base = os.path.join(OUT, self.run_id)
        if self.tracer is not None:
            self.tracer.dump(base + ".spans.jsonl")
        with open(base + ".context.json", "w") as f:
            json.dump({**self.context, "metrics": metrics}, f, indent=1, default=str)
        shutil.rmtree(self.dir, ignore_errors=True)
        line = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return json.dumps(line)


# -- session ---------------------------------------------------------------


def start_session(run: Run):
    from kin_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.local.dir": os.path.join(run.dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run.dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setup(run: Run, prepare):
    """Set up ``SETUP_ROUNDS`` times, each on a fresh Spark application
    (the first one also launches the JVM), and keep the last, so the
    timed region starts with a cold session frame cache as a cron
    invocation does. ``prepare(spark, round)`` builds the workload's state
    on the new session. Returns (spark, state, median CPU seconds of a
    round)."""
    spark, state, rounds = None, None, []
    for i in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        with measured(run, "setup", rounds):
            spark = start_session(run)
            state = prepare(spark, i)
    run.context["setup_rounds_wall_cpu"] = rounds
    for k in run.counts:  # the traced counters start with the timed region
        run.counts[k] = 0
    return spark, state, statistics.median(c for _, c in rounds)


def stop_session(spark) -> None:
    """Stop the Spark application and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def calibrate(spark) -> dict:
    """Pinned, data-independent codegen CPU probe (hash + bounded mod +
    global sum over a range) that uses Spark but none of the program. Its
    cost moves with the box, never with the code under test. Returns its
    wall and CPU seconds and the checksum that pins the work."""
    from pyspark.sql import functions as F

    def probe():
        return (
            spark.range(0, 100_000_000, 1, 16)
            .select(F.pmod(F.xxhash64("id"), F.lit(1_000_003)).alias("h"))
            .agg(F.sum("h").alias("checksum"))
            .collect()[0][0]
        )

    probe()  # absorb the probe's own codegen compile
    w0, c0 = time.perf_counter(), cpu_s()
    checksum = probe()
    return {"wall_s": time.perf_counter() - w0, "cpu_s": cpu_s() - c0,
            "checksum": int(checksum)}


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the driver JVM, Python workers), counting reaped children. Time the
    host steals from the box is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, times = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        times[int(pid)] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid, t in times.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 1)
        if p == me:
            total += t
    return total / tick


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def input_bytes(names) -> int:
    return sum(os.path.getsize(os.path.join(DATA, f"{n}.parquet")) for n in names)


@contextlib.contextmanager
def measured(run: Run, phase: str, into: list):
    """Time one op of the timed region; appends (wall s, CPU s)."""
    w0, c0 = time.perf_counter(), cpu_s()
    with run.phase(phase):
        yield
    into.append((time.perf_counter() - w0, cpu_s() - c0))


class Reader:
    """Closed-loop API reads through ``spark.sql`` by a single client.
    ``burst(n, make)`` runs ``n`` reads; ``make(rng)`` returns the SQL and
    the least number of rows a correct answer has. The CPU per read counts
    the fixed bursts only: the reads that fill a run up to its seconds
    vary in number and would dilute the background CPU a write op leaves
    behind differently in every run."""

    def __init__(self, run: Run, spark):
        self.run = run
        self.spark = spark
        self.rng = random.Random(run.seed)
        self.ms: list[float] = []
        self.analyze_ms: list[float] = []
        self.collect_ms: list[float] = []
        self.cpu = 0.0
        self.cpu_reads = 0

    def burst(self, n: int, make, fill: bool = False) -> None:
        run = self.run
        c0 = cpu_s()
        for _ in range(n):
            sql, min_rows = make(self.rng)
            with run.phase("read"):
                t0 = time.perf_counter()
                with run.layer("session.sql.analyze"):
                    df = self.spark.sql(sql)
                t1 = time.perf_counter()
                with run.layer("session.sql.collect"):
                    rows = df.collect()
                t2 = time.perf_counter()
            self.analyze_ms.append((t1 - t0) * 1e3)
            self.collect_ms.append((t2 - t1) * 1e3)
            self.ms.append((t2 - t0) * 1e3)
            run.op(len(rows) >= min_rows, f"read returned {len(rows)} rows: {sql}")
        if not fill:
            self.cpu += cpu_s() - c0
            self.cpu_reads += n


def e2e_metrics(setup_s: float, refresh, increments, reader: Reader) -> dict:
    """The end-to-end metrics every workload prints, all in CPU seconds of
    the process tree; their wall-clock figures go to the run context.
    ``setup_s`` is the median set-up round's, ``refresh`` the (wall, CPU)
    seconds of the full DAG refresh and ``increments`` those of each
    incremental op. An increment is the mean over the run's increments: a
    young JVM's JIT bursts land in one op or the next, and the mean does
    not care which."""
    return {
        "setup_s": (setup_s, "s"),
        "refresh_cpu_s": (refresh[1], "s"),
        "increment_cpu_s": (statistics.mean(c for _, c in increments), "s"),
        "read_cpu_ms": (reader.cpu * 1e3 / reader.cpu_reads, "ms"),
    }


def wall_metrics(refresh, increments, reader: Reader) -> dict:
    """Wall-clock figures of the same ops, for the run context and the
    traced run's per-layer output."""
    return {
        "wall.refresh_s": (refresh[0], "s"),
        "wall.increment_s": (statistics.mean(w for w, _ in increments), "s"),
        "wall.read_ms_p50": (statistics.median(reader.ms), "ms"),
        "wall.reads": (len(reader.ms), "count"),
    }


class JobCounter:
    """Spark jobs, stages and tasks started after construction, from the
    status tracker, totalled by ``sample``. Counts every job of the application, the streaming
    ``foreachBatch`` ones included."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.seen = set(self._ids())
        self.totals = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}

    def _ids(self):
        return self.tracker.getJobIdsForGroup(None)

    def sample(self) -> None:
        new = set(self._ids()) - self.seen
        self.seen |= new
        for jid in new:
            info = self.tracker.getJobInfo(jid)
            self.totals["jobs"] += 1
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped (reused shuffle output) or evicted
                self.totals["stages"] += 1
                self.totals["tasks"] += st.numCompletedTasks
                self.totals["tasks_failed"] += st.numFailedTasks


# -- output checks ---------------------------------------------------------


def _canon(v) -> str:
    """Engine-independent rendering: dates as ISO timestamps, integral
    floats as ints, other floats to 12 significant digits (sums may
    associate differently in the two engines)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.12g}"
    return str(v)


def canon_rows(columns, rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def frame_rows(df, columns) -> list[tuple]:
    return canon_rows(list(columns), [tuple(r) for r in df.select(*columns).collect()])


def oracle_rows(sql: str, tables) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(DATA, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        return [d[0].lower() for d in res.description], res.fetchall()
    finally:
        con.close()


def equal_to_oracle(df, sql: str, tables) -> bool:
    """The stored frame equals the oracle's result on the columns both
    have (an IVM mart keeps its holistic columns in a companion table)."""
    cols, rows = oracle_rows(sql, tables)
    df = df.toDF(*[c.lower() for c in df.columns])
    shared = [c for c in cols if c in df.columns]
    if len(shared) * 2 < len(cols):
        log(f"oracle compare: only {shared} of {cols} are stored")
        return False
    idx = [cols.index(c) for c in shared]
    want = canon_rows(shared, [tuple(r[i] for i in idx) for r in rows])
    got = frame_rows(df, shared)
    if got != want:
        log(f"oracle mismatch: {len(got)} vs {len(want)} rows;",
            next((a, b) for a, b in zip(got + [None], want + [None]) if a != b))
    return got == want


# -- traced run --------------------------------------------------------------


def install_layers(run: Run) -> None:
    """Wrap the public functions of every engine layer the workloads reach.
    Call before any model is built. Besides spans, the wrappers fill
    ``run.counts``: frame-cache builds and hits, bytes and files written
    by the catalog."""
    from kin_data_pipeline_spark.models import corpus as corpus_mod
    from kin_data_pipeline_spark.operators import dedup, incremental
    from kin_data_pipeline_spark.plans import checks, engine, guard
    from kin_data_pipeline_spark.sources import catalog as src
    from kin_data_pipeline_spark.sources import kin_adapter  # noqa: F401 — binds aliases
    from kin_data_pipeline_spark.streaming import ingest  # noqa: F401 — binds aliases

    t = run.tracer
    counts = run.counts
    counts.update(frame_builds=0, frame_hits=0, bytes_written=0, files_written=0)

    def sized(orig, full: bool):
        def write(cat, name, *args, **kwargs):
            before = (0, 0) if full else dir_bytes(cat.path(name))
            out = orig(cat, name, *args, **kwargs)
            after = dir_bytes(cat.path(name))
            counts["bytes_written"] += after[0] - before[0]
            counts["files_written"] += after[1] - before[1]
            return out

        return write

    Cat = engine.Catalog
    Cat.write_full = sized(Cat.__dict__["write_full"], True)
    Cat.write_append = sized(Cat.__dict__["write_append"], False)
    for attr in ("write_full", "write_append", "high_watermark", "table_changes"):
        t.install_method(Cat, attr, f"plans.engine.{attr}")
    t.install_function(guard, "assert_scalable_plan", "plans.guard.assert_scalable_plan")
    t.install_function(checks, "assert_checks", "plans.checks.assert_checks")
    t.install_function(src, "load_table", "sources.catalog.load_table")
    for fn in ("maintain_aggregate", "maintain_distinct_support", "maintain_minmax",
               "maintain_hll_distinct"):
        t.install_function(incremental, fn, "operators.incremental")
    t.install_function(dedup, "connected_components_star",
                       "operators.dedup.connected_components_star")
    t.install_function(corpus_mod, "ingest_increment", "models.corpus.ingest_increment")

    def cache_probe(orig):
        def frame_cached(spark, name, *key, **kwargs):
            k = (spark.sparkContext.applicationId, name, *key)
            hit = k in getattr(src, "_FRAME_CACHE", {})
            counts["frame_hits" if hit else "frame_builds"] += 1
            return orig(spark, name, *key, **kwargs)

        return frame_cached

    t.patch_function(src, "frame_cached", cache_probe)


def trace_builders(run: Run, models):
    """Models whose builder calls record a ``models.builder`` span."""
    import dataclasses

    if run.tracer is None:
        return models
    return [
        dataclasses.replace(m, builder=run.tracer.wrap("models.builder", m.builder))
        if m.builder is not None else m
        for m in models
    ]
