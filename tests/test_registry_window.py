"""The external correctness gate checks only the first 50 registry entries —
pin the window layout so a refactor can't silently push this round's
never-driver-green queries out of verification. Window composition is an
explicit, reviewed decision: CURRENT_WINDOW_HEAD is the manifest, and this
suite is its review.

Round-agnostic since round 5 (VERDICT r4 ask #5): the invariants key off
the ROUND constant plus CORRECTNESS-file discovery, so next-round prep is a
data change (bump ROUND, recompose the manifests) — no test edits.

Coverage counts only GREEN driver rows (r4 hardening): a FAIL row is a
verification *debt*, not coverage. Rows-only `no_oracle` rows counted as
green through round 4; since round 5 every registered query has an oracle
(the sketch tier emits exact-value + within-bound terminals), so new
rows-only rows can no longer occur.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re

from kin_data_pipeline_spark import queries as q

DRIVER_WINDOW = 50

# A query's last green driver row may be at most this many rounds old
# before it must re-enter a window (VERDICT r4 ask #6). The bound is the
# rotation period the geometry admits: a 50-slot window re-verifies the
# whole registry every ceil(len(registry)/window) rounds, so that ratio —
# not a literal — is the tightest staleness any rotation can guarantee
# (VERDICT r7 ask #2: at 211 queries this computes to 5; a literal 4 was
# silently outrun when the registry grew past 200).
MAX_STALENESS = math.ceil(len(q.QUERIES) / DRIVER_WINDOW)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan_since() -> dict[str, int]:
    """query -> round its plan fingerprint last changed (PLAN_MANIFEST.json,
    maintained by scripts/gen_plan_manifest.py). A green driver row older
    than this round certifies code that no longer exists and must not count
    as coverage (VERDICT r5 ask #4 — the KRE-rework blind spot)."""
    with open(os.path.join(_REPO, "PLAN_MANIFEST.json")) as f:
        return {k: int(v) for k, v in json.load(f)["since"].items()}


def _green_rounds() -> dict[str, int]:
    """query -> latest round with a GREEN driver CORRECTNESS row whose round
    is >= the query's plan-fingerprint `since` round (code-aware: rows that
    predate a semantic rework do not count).

    Green = hash_match true, or (historic rows-only sketch rows, rounds
    1-4) err == 'no_oracle' with spark_rows > 0.
    """
    since = _plan_since()
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if rnd < since.get(name, 1):
                continue
            if row.get("hash_match") or (
                row.get("err") == "no_oracle" and row.get("spark_rows", 0) > 0
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _driver_green_names() -> set[str]:
    return set(_green_rounds())


def test_round_constant_tracks_correctness_files():
    """ROUND must be one past the newest completed CORRECTNESS file — the
    forcing function that makes each round's prep actually happen."""
    rounds = [
        int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        for p in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))
    ]
    assert rounds, "no driver CORRECTNESS files found"
    assert q.ROUND == max(rounds) + 1


def test_window_is_exactly_the_current_manifest():
    names = list(q.queries())
    assert names[:DRIVER_WINDOW] == q.CURRENT_WINDOW_HEAD


def test_current_manifest_is_50_registered_queries():
    assert len(q.CURRENT_WINDOW_HEAD) == DRIVER_WINDOW
    assert len(set(q.CURRENT_WINDOW_HEAD)) == DRIVER_WINDOW
    missing = [n for n in q.CURRENT_WINDOW_HEAD if n not in q.QUERIES]
    assert not missing, f"manifest names not registered: {missing}"


def test_every_query_driver_green_or_windowed_or_backlogged():
    """The rotation discipline, green-only: prior-round GREEN rows ∪ this
    round's window ∪ the declared next-round backlog ⊇ registry. A query may
    only lack a green driver row if it holds a slot in the current window or
    is explicitly queued for the next one — nothing falls through the
    rotation untracked, and a FAIL row never counts as coverage."""
    covered = (
        _driver_green_names()
        | set(q.CURRENT_WINDOW_HEAD)
        | set(q.NEXT_WINDOW_BACKLOG)
    )
    never = sorted(set(q.queries()) - covered)
    assert not never, f"queries that would still lack a green driver row: {never}"


def test_window_leads_with_the_unverified():
    """Every query with no green driver row must sit in the current window
    (or the next-round backlog), and the windowed ones must occupy the head
    slots contiguously — the driver checks the window in order, so the
    never-verified go first."""
    never_green = set(q.queries()) - _driver_green_names()
    out = sorted(
        never_green - set(q.CURRENT_WINDOW_HEAD) - set(q.NEXT_WINDOW_BACKLOG)
    )
    assert not out, f"never-green queries outside the window/backlog: {out}"
    head = q.CURRENT_WINDOW_HEAD
    idx = [i for i, n in enumerate(head) if n in never_green]
    assert idx == list(range(len(idx))), (
        "never-green queries must occupy the head slots contiguously"
    )


def test_next_backlog_is_exactly_the_post_window_additions():
    """Round-agnostic backlog freshness rule: the next-round backlog must be
    exactly the registered queries that have no green driver row and no slot
    in the current window — any query registered after the window filled
    lands here at registration time, and nothing already covered squats in
    it."""
    backlog = q.NEXT_WINDOW_BACKLOG
    assert len(set(backlog)) == len(backlog)
    expected = sorted(
        set(q.queries()) - _driver_green_names() - set(q.CURRENT_WINDOW_HEAD)
    )
    assert sorted(backlog) == expected, (
        f"backlog drift: declared={sorted(backlog)} expected={expected}"
    )
    assert len(backlog) <= 30, "backlog exceeds what one window rotation absorbs"


def test_no_query_verification_goes_stale():
    """Freshness invariant (VERDICT r4 ask #6): every registered query must
    either hold a slot in the current window/backlog or have a green driver
    row at most MAX_STALENESS rounds old. This forces the padding slots of
    each round's window toward the oldest-verified tier, round-robin, so no
    query's last verification drifts beyond one full rotation."""
    latest = _green_rounds()
    exempt = set(q.CURRENT_WINDOW_HEAD) | set(q.NEXT_WINDOW_BACKLOG)
    stale = sorted(
        n
        for n in q.queries()
        if n not in exempt and q.ROUND - latest.get(n, 0) > MAX_STALENESS
    )
    assert not stale, (
        f"queries whose last green row is >{MAX_STALENESS} rounds old and "
        f"not re-windowed: {stale}"
    )


def test_queries_and_oracles_stay_aligned():
    names = list(q.queries())
    osql = q.oracle_sql()
    assert [n for n in names if n in osql] == list(osql)
    # Since round 5 every registered query carries a DuckDB oracle — the
    # sketch tier emits exact-value + within-error-bound integer terminals
    # instead of raw estimates (tests/test_sketches.py pins the estimate
    # twins against their published error bounds).
    assert sorted(n for n in names if n not in osql) == []


def test_queries_md_matches_registry():
    """QUERIES.md is the generated registry index — regenerate it with
    scripts/gen_queries_md.py when the registry, ROUND or the window
    changes. The whole text is compared, so a stale round line or stale
    `[w]` marks fail as well as a missing query."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", os.path.join(_REPO, "scripts", "gen_queries_md.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    md = open(os.path.join(_REPO, "QUERIES.md")).read()
    assert md == gen.render(), "QUERIES.md is stale — run scripts/gen_queries_md.py"
