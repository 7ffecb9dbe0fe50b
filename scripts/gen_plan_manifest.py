"""Regenerate PLAN_MANIFEST.json — the code-aware staleness manifest
(VERDICT r5 ask #4).

For every registered query, computes the normalized analyzed-plan
fingerprint (queries/fingerprint.py) at sf0.001 and records:

  {"generated_round": R,
   "hashes": {query: plan hash},
   "oracle_hashes": {query: oracle-SQL hash},
   "since": {query: round either hash last changed}}

``since`` advances to the CURRENT round whenever a query's plan fingerprint
OR its oracle-SQL hash differs from the stored one (or the query is new);
otherwise the stored value is kept. Both halves of the correctness contract
are covered (VERDICT r6 ask #3): editing the DuckDB oracle alone re-windows
the query exactly like a model rework. Migration: a manifest written before
``oracle_hashes`` existed seeds the oracle hashes without advancing
``since`` (the oracles demonstrably hadn't changed when the field landed). tests/test_registry_window.py treats a green driver row as
coverage only if its round >= since[query], so a semantic rework forces the
query back into a verification window no matter how green its history is.

Run after any change to query/model/operator logic, then commit the
manifest together with the change:

    python scripts/gen_plan_manifest.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_FP_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    from kin_data_pipeline_spark.session import get_spark
    from kin_data_pipeline_spark.queries import QUERIES, ROUND
    from kin_data_pipeline_spark.queries.fingerprint import (
        MANIFEST_PATH,
        ORACLE_HASH_SCHEME,
        oracle_fingerprint,
        query_fingerprint,
    )

    path = os.path.join(REPO, MANIFEST_PATH)
    old = {"hashes": {}, "oracle_hashes": None, "since": {}}
    if os.path.exists(path):
        with open(path) as fh:
            old = {"oracle_hashes": None, **json.load(fh)}
    # pre-oracle_hashes manifest OR a hashing-scheme bump: reseed oracle
    # hashes without advancing `since` (the oracles themselves didn't
    # change, only how they are hashed — see module docstring)
    migrating = (
        old["oracle_hashes"] is None
        or old.get("oracle_hash_scheme") != ORACLE_HASH_SCHEME
    )
    old_oracle = old["oracle_hashes"] or {}

    # the session tests/test_plan_manifest.py checks against (the tests'
    # conftest): plans that pin a stage's parallelism to the session's
    # cores (operators/dedup.py) embed that number in their fingerprint
    spark = get_spark(
        app_name="plan-fingerprints", master="local[4]", shuffle_partitions=4
    )
    spark.sparkContext.setLogLevel("ERROR")

    hashes: dict[str, str] = {}
    oracle_hashes: dict[str, str] = {}
    since: dict[str, int] = {}
    changed: list[str] = []
    for i, (name, spec) in enumerate(QUERIES.items(), 1):
        h = query_fingerprint(spark, spec.fn, SF_DIR)
        oh = oracle_fingerprint(spec.oracle)
        hashes[name] = h
        oracle_hashes[name] = oh
        oracle_same = migrating or old_oracle.get(name) == oh
        if old["hashes"].get(name) == h and oracle_same:
            since[name] = old["since"].get(name, ROUND)
        else:
            since[name] = ROUND
            changed.append(name)
        if i % 25 == 0:
            print(f"  {i}/{len(QUERIES)}", file=sys.stderr)

    with open(path, "w") as fh:
        json.dump(
            {
                "generated_round": ROUND,
                "hashes": hashes,
                "oracle_hash_scheme": ORACLE_HASH_SCHEME,
                "oracle_hashes": oracle_hashes,
                "since": since,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    print(f"wrote {path}: {len(hashes)} queries, {len(changed)} changed")
    if changed:
        print("changed:", ", ".join(sorted(changed)))


if __name__ == "__main__":
    main()
