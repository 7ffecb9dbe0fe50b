"""PLAN_MANIFEST.json keeps the staleness invariant code-aware (VERDICT r5
ask #4): every registered query has a normalized analyzed-plan fingerprint
and a `since` round (when the fingerprint last changed). A green driver row
only counts as verification coverage if its round >= since.

The fingerprint check here is the enforcement teeth: if query/model logic
changes without regenerating the manifest (scripts/gen_plan_manifest.py),
this suite fails, and regenerating advances `since` for the changed
queries, which in turn forces them back into a verification window via
tests/test_registry_window.py.
"""

from __future__ import annotations

import json
import os

import pytest

from kin_data_pipeline_spark import queries as q
from kin_data_pipeline_spark.queries.fingerprint import (
    MANIFEST_PATH,
    ORACLE_HASH_SCHEME,
    oracle_fingerprint,
    query_fingerprint,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


def _manifest() -> dict:
    with open(os.path.join(_REPO, MANIFEST_PATH)) as f:
        return json.load(f)


def test_manifest_covers_registry_exactly():
    m = _manifest()
    assert sorted(m["hashes"]) == sorted(q.QUERIES), (
        "manifest/registry drift — run scripts/gen_plan_manifest.py"
    )
    assert sorted(m["since"]) == sorted(m["hashes"])
    assert sorted(m["oracle_hashes"]) == sorted(m["hashes"])
    assert m["oracle_hash_scheme"] == ORACLE_HASH_SCHEME, (
        "oracle hashing scheme changed — regen the manifest (reseeds "
        "without advancing since)"
    )
    bad = {n: r for n, r in m["since"].items() if not 1 <= int(r) <= q.ROUND}
    assert not bad, f"since rounds outside [1, ROUND]: {bad}"


def test_oracle_hashes_match_manifest():
    """The oracle SQL is the other half of the correctness contract
    (VERDICT r6 ask #3): an oracle edit without a manifest regen (which
    advances `since` and re-windows the query) must fail here, exactly
    like a plan change. Pure text hashing — no Spark session needed."""
    m = _manifest()["oracle_hashes"]
    stale = [
        name
        for name, spec in q.QUERIES.items()
        if m.get(name) != oracle_fingerprint(spec.oracle)
    ]
    assert not stale, (
        f"{len(stale)} oracle hashes drifted from PLAN_MANIFEST.json — run "
        f"scripts/gen_plan_manifest.py and commit it: {sorted(stale)[:20]}"
    )


def test_fingerprints_match_manifest(spark):
    """Recompute every query's fingerprint and compare against the manifest.
    A mismatch means code changed without `scripts/gen_plan_manifest.py` —
    regenerate and commit the manifest (this is what advances `since` and
    re-windows the changed queries)."""
    m = _manifest()["hashes"]
    stale = []
    for name, spec in q.QUERIES.items():
        h = query_fingerprint(spark, spec.fn, SF_DIR)
        if m.get(name) != h:
            stale.append(name)
    assert not stale, (
        f"{len(stale)} fingerprints drifted from PLAN_MANIFEST.json — run "
        f"scripts/gen_plan_manifest.py and commit it: {sorted(stale)[:20]}"
    )


def test_star_cc_fingerprint_sees_edges_and_contraction(spark, monkeypatch):
    """connected_components_star evaluates its edges into a checkpoint, so
    the frame it returns reads only LogicalRDD leaves. The fingerprint must
    still move when the edges or the contraction change."""
    from pyspark.sql import functions as F

    from kin_data_pipeline_spark.operators import dedup

    def chain(step):
        def fn(spark, _sf_dir):
            edges = spark.range(6).select(
                F.col("id").alias("doc_a"), (F.col("id") + step).alias("doc_b")
            )
            return dedup.connected_components_star(edges)

        return fn

    base = query_fingerprint(spark, chain(1), SF_DIR)
    assert base == query_fingerprint(spark, chain(1), SF_DIR)
    assert base != query_fingerprint(spark, chain(2), SF_DIR)
    large_star = dedup._large_star
    monkeypatch.setattr(
        dedup, "_large_star", lambda e: large_star(e).filter(F.col("hi") >= 0)
    )
    assert base != query_fingerprint(spark, chain(1), SF_DIR)


def test_near_dup_cluster_queries_fingerprint_apart(spark):
    """near_dup_clusters (the cached near_dup_labels substrate) and
    near_dup_clusters_deep (its own chain edges) share the star-contraction
    output shape; only the recorded pre-checkpoint plans tell them apart.
    A second build of each, a registry hit for the substrate, hashes the
    same."""
    fps = {
        name: {query_fingerprint(spark, q.QUERIES[name].fn, SF_DIR) for _ in range(2)}
        for name in ("near_dup_clusters", "near_dup_clusters_deep")
    }
    assert all(len(h) == 1 for h in fps.values()), fps
    assert fps["near_dup_clusters"] != fps["near_dup_clusters_deep"]
