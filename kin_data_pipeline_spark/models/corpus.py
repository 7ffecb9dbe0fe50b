"""Corpus-release DAG: the LLM-ops curation pipeline as catalog models.

The registered queries in ``queries/filtering.py`` / ``queries/curation.py``
expose each curation operator for oracle verification; a production run
instead MATERIALIZES the chain through the engine lifecycle — data-quality
contracts abort a bad stage before it lands, downstream stages read the
stored upstream table (not a recomputed lineage), and the release ships as
deterministic training shards. This module wires that up with the same
Model/Runner machinery the kin warehouse uses:

    corpus_quality   docs + token metrics, low-quality rows gated out
                     (contract: doc_id unique & non-null, n_tokens > 0)
    corpus_survivors keep-best member per near-dup cluster over the stored
                     quality table (contract: survivors unique)
    corpus_shards    md5-deterministic shard id per survivor
                     (contract: shard within [0, N_SHARDS))
    corpus_clean     exact-substring rewrite of the survivors (drop
                     cross-document repeated CHUNK_W-token chunks, rebuild
                     text) — the RefinedWeb post-dedup pass, materialized
                     as the cleaned release variant

``export_release`` then writes the stored shard table to its
``shard=K/`` parquet layout in one pass (operators/shards.py).

Scale notes: every stage is one scan of its upstream table plus the
operator's own bounded shuffles (capped-postings pairs, O(log n) star
rounds, one hash agg); stages re-read STORED parquet rather than
re-deriving the full lineage, which is exactly the
materialize-per-stage contract a 100 TB curation run needs (re-running
stage 3 must not re-shingle the corpus). Within the survivor stage the
shingle → posting → pair lineage is linear in document length
(``operators.dedup.shingles`` splits a document once per evaluation, not
once per window), and its postings take the size and explode of a
shingle column rather than of the shingle expression. That lineage is
evaluated once, into the connected-components checkpoint; the stage's
write reads only the checkpoint. Within that one evaluation each shingle
array is still built twice: Spark infers a ``size(sh) > 0`` filter for
the postings ``explode`` and inlines it below the Project that builds
``sh``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kin_data_pipeline_spark.operators.dedup import (
    CHUNK_W,
    chunk_hashes,
    connected_components_star,
    grouped_posting_lists,
    jaccard_pairs_from_lists,
    shingle_postings,
)
from kin_data_pipeline_spark.operators.shards import shard_assignment
from kin_data_pipeline_spark.plans.checks import in_range, non_negative, not_null, unique
from kin_data_pipeline_spark.plans.model import Model
from kin_data_pipeline_spark.sources.catalog import load_table

#: minimum whitespace tokens for a document to enter the release
MIN_TOKENS = 5
N_SHARDS = 16

def _quality(ctx, sf_dir: str) -> DataFrame:
    docs = load_table(ctx.spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), " ")
    q = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(words).cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(words)) * 1.0 / F.size(words)).alias("quality"),
    )
    return q.filter(F.col("n_tokens") >= MIN_TOKENS)

def _survivors(ctx) -> DataFrame:
    from kin_data_pipeline_spark.queries.llmops import (
        JACCARD_DF_CAP,
        JACCARD_THRESHOLD,
        SHINGLE_K,
    )

    q = ctx.table("corpus_quality")
    # shingle_postings materializes each doc's shingle array as a column
    # before taking its size and exploding it: a size(shingles(...)) beside
    # explode(shingles(...)) lands in the Project ABOVE the Generate and
    # rebuilds the whole array once per posting
    postings = shingle_postings(q, "doc_id", "text", SHINGLE_K)
    pairs = jaccard_pairs_from_lists(
        grouped_posting_lists(postings),
        threshold=JACCARD_THRESHOLD,
        df_cap=JACCARD_DF_CAP,
    )
    labels = connected_components_star(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    j = q.join(labels, "doc_id", "left").withColumn(
        "cid", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    w = Window.partitionBy("cid").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    return (
        j.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("doc_id", "source", "text", "n_tokens", "quality")
    )

def _shards(ctx) -> DataFrame:
    s = ctx.table("corpus_survivors")
    return shard_assignment(s, "doc_id", N_SHARDS)

def _clean(ctx) -> DataFrame:
    """Exact-substring rewrite of the survivor table (the RefinedWeb pass
    that runs AFTER fuzzy document dedup): drop every CHUNK_W-token chunk
    whose hash occurs in >= 2 distinct surviving documents, keep the tail
    tokens past the last full chunk, rebuild the text. Row-preserving — a
    document emptied by the rewrite stays (n_tokens drops to the tail
    length), so downstream row accounting is unchanged and a re-gate is an
    explicit policy choice, not a side effect.

    One linear shuffle on the chunk hash, then a re-attach join of the
    duplicated-hash set (Catalyst picks broadcast vs shuffle by its size
    statistics — on a boilerplate-heavy web corpus that set is NOT small,
    so it is deliberately not force-broadcast); the rewrite itself is a
    per-row higher-order filter (JVM-side, no UDF). Chunk geometry and
    hashing come from the shared operator declaration
    (``operators/dedup.py::chunk_hashes``).

    SUBSTRATE CAVEAT — the registered stats "twin"
    ``queries/filtering.py::line_dedup_retention`` computes its
    duplicated-chunk set over the RAW documents corpus, while this rewrite
    computes it over corpus_survivors (post fuzzy dedup). Whenever fuzzy
    dedup removed a chunk's only other carrier, the raw-corpus audit counts
    a duplicate this rewrite no longer sees, so the audit's n_dup_chunks /
    retained_frac OVERSTATE what the release rewrite actually drops. Use
    the audit for corpus characterization; read release accounting off this
    model's own ``n_dropped_chunks`` column (or the corpus_clean table),
    never off the raw-corpus audit numbers.
    """
    s = ctx.table("corpus_survivors")
    words = F.split(F.trim(F.col("text")), " ")
    base = s.select("doc_id", "source", F.col("text").alias("__orig"), words.alias("__w"))
    inst = base.select("doc_id", F.posexplode(chunk_hashes("__w")).alias("idx", "c"))
    dup = (
        inst.groupBy("c")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("c")
    )
    dropped = (
        inst.join(dup, "c")
        .groupBy("doc_id")
        .agg(F.collect_set("idx").alias("__drop"))
    )
    j = base.join(dropped, "doc_id", "left").withColumn(
        "__drop", F.coalesce(F.col("__drop"), F.array().cast("array<int>"))
    )
    tail_from = (F.size("__w") / CHUNK_W).cast("long") * CHUNK_W
    kept = F.filter(
        F.col("__w"),
        lambda w, i: (i >= tail_from)
        | ~F.array_contains(F.col("__drop"), (i / CHUNK_W).cast("int")),
    )
    return j.select(
        "doc_id",
        "source",
        F.concat_ws(" ", kept).alias("text"),
        F.size(kept).cast("long").alias("n_tokens"),
        F.size("__drop").cast("long").alias("n_dropped_chunks"),
    )

def corpus_release_models(sf_dir: str) -> list[Model]:
    """The release DAG: quality → survivors → {shards, clean} (the last
    two are siblings — raw-text shards and the substring-cleaned variant
    both read the stored survivor table)."""
    return [
        Model(
            name="corpus_quality",
            builder=lambda ctx: _quality(ctx, sf_dir),
            date_col=None,
            checks=(
                not_null("doc_id", "text", "source"),
                unique("doc_id"),
                non_negative("n_tokens"),
            ),
        ),
        Model(
            name="corpus_survivors",
            builder=_survivors,
            depends_on=("corpus_quality",),
            date_col=None,
            checks=(unique("doc_id"), not_null("doc_id")),
        ),
        Model(
            name="corpus_shards",
            builder=_shards,
            depends_on=("corpus_survivors",),
            date_col=None,
            checks=(in_range("shard", 0, N_SHARDS - 1),),
        ),
        # Sibling of the shard stage (both read the stored survivors): the
        # exact-substring-cleaned release variant. A deployment that ships
        # cleaned shards points the shard stage's upstream here — kept as a
        # separate table so both release variants coexist and the
        # survivor/shard row accounting stays byte-identical either way.
        Model(
            name="corpus_clean",
            builder=_clean,
            depends_on=("corpus_survivors",),
            date_col=None,
            checks=(not_null("doc_id"), unique("doc_id"), non_negative("n_tokens")),
        ),
    ]

def export_release(catalog, out_dir: str) -> None:
    """Write the stored shard table to its shard=K/ training layout."""
    df = catalog.table("corpus_shards")
    (
        df.repartition(N_SHARDS, F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )

# --- incremental ingest ------------------------------------------------------
# A release is not rebuilt when new documents arrive: the batch probes the
# STORED LSH band index (broadcast batch side — the corpus never reshuffles),
# near-dups of existing content drop, and the novel remainder appends to the
# survivor, band, and shard tables in one pass each. Ingesting the same
# batch twice appends nothing (its bands are in the index after the first
# ingest), so the operation is idempotent at the content level.

def corpus_index_model() -> Model:
    """The persistable LSH band index over the released survivors."""

    def _bands(ctx) -> DataFrame:
        from kin_data_pipeline_spark.queries.llmops import (
            document_bands,
            document_signatures,
        )

        return document_bands(
            document_signatures(ctx.table("corpus_survivors").select("doc_id", "text"))
        )

    return Model(
        name="corpus_bands",
        builder=_bands,
        depends_on=("corpus_survivors",),
        date_col=None,
        checks=(not_null("doc_id", "band_key"),),
    )

def ingest_increment(spark, catalog, batch_docs: DataFrame) -> dict[str, int]:
    """Quality-gate an arriving batch, drop near-dups of stored content,
    append the novel remainder to survivors/bands/shards.

    Within-batch EXACT duplicates collapse here (min doc_id per text hash);
    within-batch NEAR-dups are the caller's preprocessing — run the batch
    through the pair tier first if its source can self-duplicate. Returns
    counts for the run report: arrived, gated, collided, appended.
    """
    from kin_data_pipeline_spark.queries.llmops import (
        document_bands,
        document_signatures,
    )

    words = F.split(F.trim(F.col("text")), " ")
    w_txt = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    gated = (
        batch_docs.select(
            "doc_id",
            "source",
            "text",
            F.size(words).cast("long").alias("n_tokens"),
            (F.size(F.array_distinct(words)) * 1.0 / F.size(words)).alias("quality"),
        )
        .filter(F.col("n_tokens") >= MIN_TOKENS)
        .withColumn("__rk", F.row_number().over(w_txt))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
    gated = gated.cache()

    batch_bands = document_bands(
        document_signatures(gated.select("doc_id", "text"))
    ).cache()
    stored = catalog.table("corpus_bands").select("band_id", "band_key").distinct()
    colliding = (
        F.broadcast(batch_bands)
        .join(stored, ["band_id", "band_key"])
        .select("doc_id")
        .distinct()
    )
    novel = gated.join(colliding, "doc_id", "left_anti").cache()

    n_arrived = batch_docs.count()
    n_gated = n_arrived - gated.count()
    n_novel = novel.count()
    n_collided = n_arrived - n_gated - n_novel

    if n_novel:
        catalog.write_append(
            "corpus_survivors",
            novel.select("doc_id", "source", "text", "n_tokens", "quality"),
            date_col=None,
        )
        catalog.write_append(
            "corpus_bands",
            batch_bands.join(novel.select("doc_id"), "doc_id", "left_semi"),
            date_col=None,
        )
        catalog.write_append(
            "corpus_shards",
            shard_assignment(
                novel.select("doc_id", "source", "text", "n_tokens", "quality"),
                "doc_id",
                N_SHARDS,
            ),
            date_col=None,
        )
    for f in (gated, batch_bands, novel):
        f.unpersist()
    return {
        "arrived": n_arrived,
        "gated": n_gated,
        "collided": n_collided,
        "appended": n_novel,
    }
