"""Corpus-release DAG: the curation chain materialized through the
engine lifecycle, with contracts enforced per stage and a shard export.

The per-operator math is oracle-checked by the registered queries; here
we pin the LIFECYCLE properties: stages read stored upstreams, survivor
accounting matches the registered keep-best query, contracts abort bad
stages, and the export lands the loader-facing layout.
"""

from __future__ import annotations

import datetime
import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from kin_data_pipeline_spark.models.corpus import (
    N_SHARDS,
    corpus_release_models,
    export_release,
)
from kin_data_pipeline_spark.plans.engine import Catalog, Runner
from kin_data_pipeline_spark.queries.registry import QUERIES

RUN = datetime.date(2024, 2, 1)

@pytest.fixture(scope="module")
def release(spark, sf_dir, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    Runner(spark, cat).run(corpus_release_models(sf_dir), RUN)
    return cat

def test_stages_materialize_in_dependency_order(release):
    for t in ("corpus_quality", "corpus_survivors", "corpus_shards"):
        assert release.table(t).count() > 0

def test_survivor_accounting_matches_registered_query(release, spark, sf_dir):
    """The DAG's survivor stage must agree with dedup_keep_best_survivors
    wherever the quality gate doesn't interfere (the gate runs upstream in
    the DAG; the registered query scores the ungated corpus, so compare on
    the common per-source totals only when no doc was gated out)."""
    gated = release.table("corpus_quality").count()
    raw = (
        QUERIES["dedup_keep_best_survivors"]
        .fn(spark, sf_dir)
        .agg(F.sum("n_docs").alias("n"), F.sum("n_kept").alias("k"))
        .first()
    )
    if gated == raw["n"]:  # nothing gated: totals must match exactly
        assert release.table("corpus_survivors").count() == raw["k"]
    else:  # gate removed docs: survivors can only shrink
        assert release.table("corpus_survivors").count() <= raw["k"]

def test_survivors_are_subset_of_quality(release):
    q = release.table("corpus_quality").select("doc_id")
    s = release.table("corpus_survivors").select("doc_id")
    assert s.exceptAll(q).count() == 0

def test_shards_cover_survivors_exactly(release):
    s = release.table("corpus_survivors")
    sh = release.table("corpus_shards")
    assert sh.count() == s.count()
    assert sh.agg(F.min("shard")).first()[0] >= 0
    assert sh.agg(F.max("shard")).first()[0] <= N_SHARDS - 1

def test_export_lands_loader_layout(release, tmp_path):
    out = str(tmp_path / "release")
    export_release(release, out)
    dirs = [d for d in os.listdir(out) if d.startswith("shard=")]
    assert dirs
    back = release.spark.read.parquet(out)
    assert back.count() == release.table("corpus_shards").count()

def test_violated_contract_aborts_before_write(spark, sf_dir, tmp_path):
    """A stage whose output breaks its declared contract must fail the run
    and leave no table behind."""
    from kin_data_pipeline_spark.plans.checks import accepted_values
    from kin_data_pipeline_spark.plans.model import Model
    from kin_data_pipeline_spark.sources.catalog import load_table

    cat = Catalog(spark, str(tmp_path / "wh"))
    bad = Model(
        name="corpus_bad_stage",
        builder=lambda ctx: load_table(ctx.spark, sf_dir, "documents").select(
            "doc_id", "lang"
        ),
        date_col=None,
        checks=(accepted_values("lang", ["xx"]),),  # guaranteed violation
    )
    with pytest.raises(Exception, match=re.escape("accepted_values(lang")):
        Runner(spark, cat).run([bad], RUN)
    assert not glob.glob(str(tmp_path / "wh" / "corpus_bad_stage" / "*.parquet"))

def test_incremental_ingest_appends_only_novel_and_is_idempotent(
    spark, sf_dir, tmp_path
):
    """Release on 90% of the corpus + band index; ingest the held-out 10%:
    only non-colliding docs append, the index grows with them, and
    re-ingesting the same batch appends nothing."""
    from kin_data_pipeline_spark.models import corpus as C
    from kin_data_pipeline_spark.plans.model import Model
    from kin_data_pipeline_spark.sources.catalog import load_table

    cat = Catalog(spark, str(tmp_path / "wh"))
    base = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)

    # release DAG over the base corpus (quality stage reads the base frame)
    models = C.corpus_release_models(sf_dir)
    models[0] = Model(
        name="corpus_quality",
        builder=lambda ctx: C._quality(ctx, sf_dir).join(
            base.select("doc_id"), "doc_id", "left_semi"
        ),
        date_col=None,
    )
    models.append(C.corpus_index_model())
    Runner(spark, cat).run(models, RUN)

    before = cat.table("corpus_survivors").count()
    batch = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    stats = C.ingest_increment(spark, cat, batch)
    after = cat.table("corpus_survivors").count()

    assert stats["arrived"] == batch.count()
    assert stats["appended"] == after - before
    assert stats["gated"] + stats["collided"] + stats["appended"] == stats["arrived"]
    # survivor ids stay unique across base + increment
    s = cat.table("corpus_survivors")
    assert s.select("doc_id").distinct().count() == s.count()

    # idempotence: the same batch now collides entirely on its own bands
    again = C.ingest_increment(spark, cat, batch)
    assert again["appended"] == 0
    assert cat.table("corpus_survivors").count() == after

def test_streaming_ingest_equals_batch_ingest(spark, sf_dir, tmp_path):
    """File-source micro-batches through stream_corpus_increments must land
    the same survivor set as calling ingest_increment on the union, and a
    restarted stream (same checkpoint) must replay nothing."""
    from kin_data_pipeline_spark.models import corpus as C
    from kin_data_pipeline_spark.plans.model import Model
    from kin_data_pipeline_spark.sources.catalog import load_table
    from kin_data_pipeline_spark.streaming.ingest import stream_corpus_increments

    def build_release(whdir):
        cat = Catalog(spark, str(whdir))
        base = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 0
        )
        models = C.corpus_release_models(sf_dir)
        models[0] = Model(
            name="corpus_quality",
            builder=lambda ctx: C._quality(ctx, sf_dir).join(
                base.select("doc_id"), "doc_id", "left_semi"
            ),
            date_col=None,
        )
        models.append(C.corpus_index_model())
        Runner(spark, cat).run(models, RUN)
        return cat

    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )

    # reference run: one batch ingest
    cat_ref = build_release(tmp_path / "wh_ref")
    C.ingest_increment(spark, cat_ref, batch)
    expect = {r["doc_id"] for r in cat_ref.table("corpus_survivors").collect()}

    # streaming run: the same docs arrive as file-source micro-batches
    cat_s = build_release(tmp_path / "wh_stream")
    src = tmp_path / "incoming"
    src.mkdir()
    batch.write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    ckpt = str(tmp_path / "ckpt")
    stats = stream_corpus_increments(stream, cat_s, ckpt)
    assert sum(s["arrived"] for s in stats) == batch.count()
    got = {r["doc_id"] for r in cat_s.table("corpus_survivors").collect()}
    assert got == expect

    # restart on the same checkpoint: nothing new arrives, nothing replays
    stream2 = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    stats2 = stream_corpus_increments(stream2, cat_s, ckpt)
    assert sum(s["appended"] for s in stats2) == 0
    assert {r["doc_id"] for r in cat_s.table("corpus_survivors").collect()} == expect


def test_clean_stage_row_preserving_and_token_accounting(release, spark):
    """corpus_clean must keep every survivor row, and the rebuilt token
    count must be exactly (original tokens − CHUNK_W · dropped chunks) —
    the same arithmetic the registered line_dedup_retention query pins
    against its oracle over the raw corpus."""
    from kin_data_pipeline_spark.models.corpus import CHUNK_W

    s = release.table("corpus_survivors")
    c = release.table("corpus_clean")
    assert c.count() == s.count()
    orig = s.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("n_orig"),
    )
    bad = (
        c.join(orig, "doc_id")
        .filter(
            F.col("n_tokens") != F.col("n_orig") - CHUNK_W * F.col("n_dropped_chunks")
        )
        .count()
    )
    assert bad == 0


def test_clean_stage_removes_all_copies_of_a_shared_chunk(spark, sf_dir, tmp_path):
    """Micro-fixture: two documents sharing one exact 8-token chunk, plus a
    document whose repeated chunk appears only within itself. The rewrite
    must strip the shared chunk from BOTH carriers (line dedup removes all
    copies) and leave the within-document repeat alone (the criterion is
    cross-document)."""
    from kin_data_pipeline_spark.models.corpus import CHUNK_W, corpus_release_models
    from kin_data_pipeline_spark.plans.engine import Catalog, Runner

    shared = " ".join(f"s{i}" for i in range(CHUNK_W))
    selfrep = " ".join(f"r{i}" for i in range(CHUNK_W))
    rows = [
        (1, "a", shared + " " + " ".join(f"a{i}" for i in range(CHUNK_W)) + " tail1"),
        (2, "b", shared + " " + " ".join(f"b{i}" for i in range(CHUNK_W))),
        (3, "c", selfrep + " " + selfrep + " tail3"),
    ]
    cat = Catalog(spark, str(tmp_path / "wh"))
    surv = spark.createDataFrame(rows, "doc_id long, source string, text string")
    cat.write_full("corpus_survivors", surv, date_col=None)
    clean_model = [
        m for m in corpus_release_models(sf_dir) if m.name == "corpus_clean"
    ]
    Runner(spark, cat).run(clean_model, RUN)
    out = {r["doc_id"]: r for r in cat.table("corpus_clean").collect()}
    assert "s0" not in out[1]["text"] and "s0" not in out[2]["text"]
    assert out[1]["text"].split(" ") == [f"a{i}" for i in range(CHUNK_W)] + ["tail1"]
    assert out[2]["text"].split(" ") == [f"b{i}" for i in range(CHUNK_W)]
    # within-document repeat is NOT cross-document: both copies stay
    assert out[3]["text"].split(" ").count("r0") == 2
    assert out[3]["n_dropped_chunks"] == 0


def _survivors_frame(release, monkeypatch):
    """Build corpus_survivors over the stored quality table, capturing the
    near-dup pair frame handed to the connected-components operator."""
    from kin_data_pipeline_spark.models import corpus
    from kin_data_pipeline_spark.plans.engine import BuildContext

    seen = {}
    cc = corpus.connected_components_star

    def spy(edges, *args, **kwargs):
        seen["pairs"] = edges
        return cc(edges, *args, **kwargs)

    monkeypatch.setattr(corpus, "connected_components_star", spy)
    df = corpus._survivors(BuildContext(release.spark, release, RUN))
    return df, seen["pairs"]


def _parent_of(lines: list[str], i: int) -> str | None:
    """The line of plan-tree node ``i``'s parent in a ``treeString``."""

    def depth(line: str) -> int:
        m = re.search(r"[+:]- ", line)
        return m.end() if m else 0

    d = depth(lines[i])
    for j in range(i - 1, -1, -1):
        if depth(lines[j]) < d:
            return lines[j]
    return None


def test_survivor_postings_size_reads_the_materialized_array(release, monkeypatch):
    """The Project above each Generate of the pair lineage evaluates no
    higher-order function: the postings' size(...) reads the shingle
    column, it does not rebuild the array once per posting."""
    _, pairs = _survivors_frame(release, monkeypatch)
    lines = pairs._jdf.queryExecution().optimizedPlan().toString().splitlines()
    gens = [i for i, line in enumerate(lines) if "Generate " in line]
    assert len(gens) == 2, "\n".join(lines)  # postings explode, pair expansion
    for i in gens:
        parent = _parent_of(lines, i)
        assert parent is not None and "transform(" not in parent, parent


def test_survivors_plan_reads_pair_lineage_only_through_checkpoint(
    release, monkeypatch
):
    """The written corpus_survivors frame holds no Generate: the pair
    lineage is evaluated once, into the connected-components checkpoint,
    and the write reads only that checkpoint."""
    df, _ = _survivors_frame(release, monkeypatch)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" not in plan, plan
