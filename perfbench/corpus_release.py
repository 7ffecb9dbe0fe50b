"""``corpus_release``: the LLM-corpus release DAG plus streaming ingest.

A full run of the corpus-release DAG (quality gate, near-dup survivors,
shards, exact-substring clean) and the LSH band index over the stored
documents, then ``BATCHES`` seeded micro-batches streamed through
``streaming.ingest.stream_corpus_increments``, each followed by serving
reads of the published release; reads go on until the run's seconds are
used. Each micro-batch is built from the stored documents: a fixed
``DUP_SHARE`` of its docs are near-copies of a stored doc (one token
dropped), the rest are a stored doc with its words shuffled, which makes
it novel to the 3-shingle index.

Checks, outside the timed region: every batch accounts for its arrivals
(arrived = gated + collided + appended, arrived = docs written), survivor
``doc_id``s stay unique, and the survivor table grew by exactly the
appended count.
"""

from __future__ import annotations

import datetime
import os
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
    input_bytes,
    jvm_peak_rss_mb,
    log,
    measured,
    timed_setup,
    trace_builders,
    wall_metrics,
)

RUN_DATE = datetime.date(2024, 1, 31)
INPUTS = ("documents",)
BATCH_DOCS = 30
DUP_SHARE = 0.3
BATCHES = 2
READS_PER_BATCH = 20
PUBLISHED = ("corpus_survivors", "corpus_shards")
FIRST_NEW_ID = 10_000_000


def _build(run: Run, spark, data_dir: str, wh: str):
    from kin_data_pipeline_spark.models.corpus import (
        corpus_index_model,
        corpus_release_models,
    )
    from kin_data_pipeline_spark.plans.engine import Catalog, Runner

    models = corpus_release_models(data_dir) + [corpus_index_model()]
    cat = Catalog(spark, wh)
    return trace_builders(run, models), cat, Runner(spark, cat)


def _prepare(run: Run):
    def prepare(spark, i):
        from kin_data_pipeline_spark.sources.catalog import load_table

        state = _build(run, spark, DATA, f"{run.dir}/wh{i}")
        load_table(spark, DATA, "documents").count()  # first scan of the input
        return state

    return prepare


def _stream(spark, src_dir: str):
    """One micro-batch per arriving file."""
    schema = spark.read.parquet(os.path.join(DATA, "documents.parquet")).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)


class Batches:
    """Seeded micro-batch files built from the stored documents."""

    def __init__(self, seed: int, out_dir: str):
        import pyarrow.parquet as pq

        self.docs = pq.read_table(os.path.join(DATA, "documents.parquet")).to_pylist()
        self.schema = pq.read_schema(os.path.join(DATA, "documents.parquet"))
        self.rng = random.Random(seed)
        self.out_dir = out_dir
        self.next_id = FIRST_NEW_ID
        self.n_files = 0
        os.makedirs(out_dir, exist_ok=True)

    def _doc(self) -> dict:
        src = self.rng.choice(self.docs)
        words = src["text"].split(" ")
        if self.rng.random() < DUP_SHARE:
            del words[self.rng.randrange(len(words))]
        else:
            self.rng.shuffle(words)
        text = " ".join(words)
        self.next_id += 1
        return {"doc_id": self.next_id, "text": text, "lang": src["lang"],
                "source": src["source"], "n_chars": len(text)}

    def write(self) -> int:
        """Write the next micro-batch file; returns its document count."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [self._doc() for _ in range(BATCH_DOCS)]
        path = os.path.join(self.out_dir, f"batch-{self.n_files:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=self.schema), path)
        self.n_files += 1
        return BATCH_DOCS


def _reads(ids):
    """The serving read mix over the published release: a document by
    ``doc_id`` and one shard's size."""
    from kin_data_pipeline_spark.models.corpus import N_SHARDS

    def make(rng: random.Random):
        if rng.random() < 0.5:
            return (f"SELECT doc_id, text FROM corpus_survivors "
                    f"WHERE doc_id = {rng.choice(ids)}"), 1
        return (f"SELECT COUNT(*) AS docs, SUM(n_tokens) AS tokens FROM corpus_shards "
                f"WHERE shard = {rng.randrange(N_SHARDS)}"), 1

    return make


def run_workload(run: Run) -> dict:
    from kin_data_pipeline_spark.streaming.ingest import stream_corpus_increments

    spark, (models, cat, runner), setup_s = timed_setup(run, _prepare(run))
    jobs = JobCounter(spark) if run.tracer else None
    reader = Reader(run, spark)
    batches = Batches(run.seed, f"{run.dir}/incoming")
    ckpt = f"{run.dir}/ckpt"
    refresh, ingests, stats, written, results = [], [], [], 0, []

    t_start = time.perf_counter()
    deadline = t_start + run.seconds
    with measured(run, "release", refresh):
        results += runner.run(models, RUN_DATE, "full_refresh")
        cat.publish_views(list(PUBLISHED))
    run.op(True)
    with run.phase("read_keys"):
        ids = sorted(r[0] for r in spark.sql("SELECT doc_id FROM corpus_survivors").collect())
    released = len(ids)
    make = _reads(ids)
    for _ in range(BATCHES):
        with run.phase("write_batch"):
            written += batches.write()
        with measured(run, "ingest", ingests):
            got = stream_corpus_increments(_stream(spark, batches.out_dir), cat, ckpt)
            cat.publish_views(list(PUBLISHED))
        stats += got
        for s in got:
            run.op(s["arrived"] == s["gated"] + s["collided"] + s["appended"],
                   f"batch accounting {s}")
        reader.burst(READS_PER_BATCH, make)
    while time.perf_counter() < deadline:
        reader.burst(READS_PER_BATCH, make, fill=True)
    t_end = time.perf_counter()
    run.context["models"] = [(r.model, r.action, r.duration_sec) for r in results]
    run.context["ops_wall_cpu"] = {"release": refresh, "ingests": ingests}
    rss = jvm_peak_rss_mb(spark)
    if jobs:
        jobs.sample()
    run.context["calibration"] = calibrate(spark)

    arrived = sum(s["arrived"] for s in stats)
    appended = sum(s["appended"] for s in stats)
    wh_bytes, _ = dir_bytes(cat.warehouse_dir)

    def survivors_unique():
        s = cat.table("corpus_survivors")
        return s.select("doc_id").distinct().count() == s.count() == released + appended

    run.check("ingest:arrived_equals_written", lambda: arrived == written)
    run.check("ingest:survivors_unique_and_grown", survivors_unique)
    log(f"release {refresh[0][0]:.2f}s/{refresh[0][1]:.2f} cpu-s, batches "
        f"{[(round(w, 2), round(c, 2)) for w, c in ingests]} ({arrived} docs, "
        f"{appended} appended), {len(reader.ms)} reads "
        f"p50 {statistics.median(reader.ms):.1f}ms, wall {t_end - t_start:.1f}s, "
        f"setup {setup_s:.2f}s")
    return {
        "e2e": e2e_metrics(setup_s, refresh[0], ingests, reader),
        "wall": wall_metrics(refresh[0], ingests, reader),
        "spark": spark,
        "window": (t_start, t_end),
        "results": results,
        "jobs": jobs,
        "ops": 1 + len(ingests) + len(reader.ms),
        "reader": reader,
        "rss_mb": rss,
        "bytes_per_input_byte": wh_bytes / input_bytes(INPUTS),
        "ingest": {"arrived": arrived, "appended": appended, "batches": len(stats)},
    }
