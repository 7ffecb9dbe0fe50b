"""Plan fingerprints: a content hash per registered query that changes when
the query's SEMANTICS change, so the verification-staleness invariant can be
code-aware (VERDICT r5 ask #4).

Round 5 proved the failure mode: the KRE/AUB chain was semantically
reworked AFTER its round-4 green driver rows, so those rows certified code
that no longer existed, and nothing forced the chain back into a
verification window. The fix is a manifest (`PLAN_MANIFEST.json`) recording,
per query, a normalized hash of its analyzed logical plan and the round the
hash last changed (`since`). A green driver row only counts as coverage if
its round is >= the query's `since` round.

Hashing rules:
- The hash covers the query DataFrame's ANALYZED logical plan plus the
  pre-truncation plans of every shared substrate frame the query's build
  registered (``truncate=True`` substrates appear downstream as LogicalRDD
  leaves, which would otherwise hide substrate logic changes). The
  substrate inventory is recorded per query build, a registry hit
  included, so it does not depend on which query built a substrate first.
  Operators that checkpoint mid-computation (``connected_components_star``)
  register the plan the checkpoint hides the same way
  (``sources.catalog.frame_lineage``).
- Plan strings are normalized: expression IDs (``#123``), object addresses,
  RDD ids and Python-object reprs vary per session and are stripped; what
  remains is the operator tree, column names, types, and literals.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession

from kin_data_pipeline_spark.sources.catalog import frame_cache_record

MANIFEST_PATH = "PLAN_MANIFEST.json"

_NORMALIZE_PATTERNS = [
    (re.compile(r"#\d+"), "#_"),  # expression IDs
    (re.compile(r"0x[0-9a-fA-F]+"), "0x_"),  # object addresses in reprs
    (re.compile(r"@[0-9a-f]{6,}"), "@_"),  # JVM object hashes
    (re.compile(r"ExistingRDD\[\d+\]"), "ExistingRDD[_]"),
    (re.compile(r"MapPartitionsRDD\[\d+\]"), "MapPartitionsRDD[_]"),
    (re.compile(r"<function [^>]*>"), "<function _>"),
    (re.compile(r"<lambda>[^,)\s]*"), "<lambda>"),
    # Scan ExistingRDD rows carry an RDD-lineage description after the
    # column list on some plans; the column list itself is kept.
    (re.compile(r"cachedrdd-\d+"), "cachedrdd-_"),
    # Media-tier builds repartition to SESSION parallelism (_spread_ids);
    # the width is an environment property, not query semantics.
    (re.compile(r"Repartition \d+"), "Repartition _"),
    # Higher-order-function lambda variables are numbered by a
    # session-global counter (`lambda x_5` on a fresh session, `lambda
    # x_21` after other HOF queries ran) — strip the counter.
    (re.compile(r"\blambda ([A-Za-z]+)_\d+"), r"lambda \1__"),
    # Queries that stage through a per-call scratch warehouse
    # (time_travel_* — their results are collected local frames, so this
    # is defensive) read under a tempfile.mkdtemp path; both the random
    # suffix AND the gettempdir() prefix are session/box state, not
    # query semantics, so match the distinctive dir name unanchored.
    (re.compile(r"\S*/tt_wh_[A-Za-z0-9_]+"), "/tt_wh__"),
]


def normalize_plan(text: str) -> str:
    for pat, repl in _NORMALIZE_PATTERNS:
        text = pat.sub(repl, text)
    return text


def _analyzed(df: DataFrame) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def plan_digest(df: DataFrame) -> str:
    """Short hash of ``df``'s normalized analyzed plan: equal across
    sessions for the same logic, so it can name a frame in the hash."""
    return hashlib.sha256(normalize_plan(_analyzed(df)).encode()).hexdigest()[:16]


#: bump when the normalization below changes semantics — the manifest
#: generator reseeds oracle hashes without advancing `since` on a scheme
#: change (the oracles themselves didn't change, only the hashing)
ORACLE_HASH_SCHEME = 2


def _normalize_sql(sql: str) -> str:
    """Collapse whitespace runs OUTSIDE single-quoted literals (scheme 2).

    Reformatting SQL is not a semantic change, but whitespace INSIDE a
    quoted literal is (e.g. the ' ' separators the BPE replace chains
    split on) — a naive global collapse would let a literal-only edit
    escape the staleness guard. Standard SQL '' escaping stays inside the
    literal state for both quotes, which is correct for the scan.
    """
    out: list[str] = []
    in_quote = False
    pending_ws = False
    for ch in sql:
        if in_quote:
            out.append(ch)
            if ch == "'":
                in_quote = False
            continue
        if ch.isspace():
            pending_ws = True
            continue
        if pending_ws:
            out.append(" ")
            pending_ws = False
        out.append(ch)
        if ch == "'":
            in_quote = True
    return "".join(out)


def oracle_fingerprint(sql: str | None) -> str:
    """Semantic hash of a query's DuckDB oracle text (VERDICT r6 ask #3).

    The plan fingerprint covers only the Spark half of the correctness
    contract; an edit to the oracle SQL alone would otherwise leave prior
    green driver rows standing for a contract that no longer exists.
    Whitespace collapses only outside quoted literals (``_normalize_sql``);
    rows-only queries (``oracle is None``) hash a fixed sentinel so adding
    or removing an oracle also registers as a change.
    """
    text = "<no-oracle>" if sql is None else _normalize_sql(sql).strip()
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def query_fingerprint(spark: SparkSession, fn, sf_dir: str) -> str:
    """Normalized semantic hash of one registered query at ``sf_dir``.

    Records every substrate the query's build requests, with the
    substrates those depend on, whether the registry already held them or
    not; the hash is over the query's own analyzed plan plus each
    substrate's pre-truncation analyzed plan, keyed by substrate name so
    renames register as changes.
    """
    with frame_cache_record(spark) as substrates:
        df = fn(spark, sf_dir)
    parts = ["query:" + normalize_plan(_analyzed(df))]
    for name, sub in sorted(substrates.items()):
        parts.append(f"substrate {name}:" + normalize_plan(_analyzed(sub)))
    digest = hashlib.sha256("\n".join(parts).encode()).hexdigest()
    return digest[:16]
